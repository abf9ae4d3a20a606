"""bench.py's host-capacity canary floors are keyed by core count."""

from __future__ import annotations

import json

import bench


def _artifact(path, cpus, canary_sec, wrapped):
    inner = json.dumps({"metric": "headline_suite_warm_sec", "canary_sec": canary_sec})
    # a wrapped artifact sometimes keeps the bench line only as an
    # escaped, front-truncated "tail" string
    body = {"cpus": cpus, "tail": inner[10:]} if wrapped else {"cpus": cpus, **json.loads(inner)}
    path.write_text(json.dumps(body))


def test_canary_floor_reads_only_artifacts_of_the_same_core_count(tmp_path):
    _artifact(tmp_path / "BENCH_r01.json", 32, 0.8, wrapped=True)
    _artifact(tmp_path / "BENCH_r02.json", 8, 1.9, wrapped=False)
    _artifact(tmp_path / "BENCH_r03.json", 8, 1.5, wrapped=True)
    _artifact(tmp_path / "BENCH_r04.json", 8, 0.1, wrapped=False)  # mangled

    def floor(cpus):
        return bench._canary_floor(tmp_path, "canary_sec", 0.9, 0.45, cpus)

    assert floor(32) == 0.8
    assert floor(8) == 1.5
    # no 4-core artifact: the local[32] fallback, scaled to 4 cores
    assert floor(4) == 0.9 * bench.FALLBACK_CPUS / 4
