"""The benchmark's own tests.

    python -m pytest cdcbench -q                      # generator and checker
    python -m pytest cdcbench -q -m "slow or not slow"  # plus full runs (~5 min)

The slow tests run ``cdcbench/run.py`` end to end, one Spark session
each.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from checks import CheckFailed, check_invariants, compare_rows
from generator import ChangeGenerator
from tracer import fold_event_log, input_scans_per_epoch

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _drive(seed: int, zipf: bool, batches: int = 4) -> ChangeGenerator:
    gen = ChangeGenerator(seed, 300, zipf=zipf)
    for _ in range(batches):
        gen.next_batch(40)
    return gen


@pytest.mark.parametrize("zipf", [True, False])
def test_same_seed_same_batches_and_expected_dimension(tmp_path, zipf):
    a, b = _drive(7, zipf), _drive(7, zipf)
    assert a.batches == b.batches
    assert a.expected_rows() == b.expected_rows()
    for gen, name in ((a, "a"), (b, "b")):
        gen.write_source(tmp_path / name / "src", tmp_path / name / "del")
    for table in ("src", "del"):
        (fa,) = (tmp_path / "a" / table).glob("v*.parquet")
        (fb,) = (tmp_path / "b" / table).glob("v*.parquet")
        assert pq.read_table(fa).equals(pq.read_table(fb))
    assert _drive(8, zipf).batches != a.batches


def test_batches_follow_the_change_mix_and_touch_a_key_once():
    gen = _drive(3, zipf=True, batches=1)
    changes = gen.batches[-1]["changes"]
    ops = [op for op, _, _ in changes]
    assert (ops.count("UPDATE"), ops.count("INSERT"), ops.count("DELETE")) == (24, 12, 4)
    keys = [k for _, k, _ in changes]
    assert len(set(keys)) == len(keys)
    ts = [t for _, _, t in changes]
    assert len(set(ts)) == len(ts)


def test_every_update_changes_a_tracked_column():
    gen = ChangeGenerator(5, 200, zipf=True)
    before = {k: dict(v) for k, v in gen.rows.items()}
    batch = gen.next_batch(50)
    for op, key, _ in batch["changes"]:
        if op == "UPDATE":
            assert gen.rows[key]["quantity"] != before[key]["quantity"]


def test_expected_dimension_keeps_one_current_version_per_live_key():
    gen = _drive(9, zipf=True, batches=6)
    current = [v for v in gen.versions if v["is_current"]]
    assert sorted(v["order_key"] for v in current) == sorted(gen.rows)
    for v in gen.versions:
        assert (v["valid_to"] is None) == v["is_current"]


def test_checker_flags_a_duplicate_current_row():
    gen = _drive(11, zipf=True)
    rows = list(gen.expected_rows())
    dup = next(r for r in rows if r[3])  # is_current
    with pytest.raises(CheckFailed, match="1 unexpected"):
        compare_rows(rows + [dup], rows, "final dimension")


def test_checker_flags_a_dropped_batch():
    gen = _drive(12, zipf=True, batches=3)
    without_last = gen.expected_rows()
    gen.next_batch(40)
    with pytest.raises(CheckFailed, match="expected rows missing"):
        compare_rows(without_last, gen.expected_rows(), "final dimension")


def test_checker_flags_a_violated_invariant():
    check_invariants({"V1": 0, "V2": 0, "V3": 0})
    with pytest.raises(CheckFailed, match="V2"):
        check_invariants({"V1": 0, "V2": 1, "V3": 0})


def _drain_spans() -> list[dict]:
    def span(sid, name, parent, start, end):
        return {"id": sid, "name": name, "parent": parent, "phase": "loop",
                "start": start, "end": end}

    return [
        span(1, "streaming.start_scd2_stream", None, 0.0, 10.0),
        span(2, "state.generate_batch_id", 1, 1.0, 2.0),
        span(3, "dim_store.apply_batch", 1, 3.0, 6.0),
    ]


_JSON_SCAN = {"nodeName": "Scan json ", "simpleString": "FileScan json [id#1L]"}
_INPUT_REREAD = {
    "nodeName": "Scan ExistingRDD",
    "simpleString": "Scan ExistingRDD[id#7L,operation_type#8,cdc_timestamp#9,extracted_at#10]",
}
_OTHER_RDD = {"nodeName": "Scan ExistingRDD", "simpleString": "Scan ExistingRDD[__b_key#3L]"}


def _scan_log(path: Path, executions: list[tuple[float, list[dict]]]) -> Path:
    event = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
    path.write_text("\n".join(
        json.dumps({
            "Event": event,
            "time": int(t * 1000),
            "sparkPlanInfo": {"nodeName": "Project", "children": scans},
        })
        for t, scans in executions
    ))
    return path


def test_input_scans_count_the_reads_of_the_drains_child_spans(tmp_path):
    outer_only = _drain_spans()
    log = _scan_log(tmp_path / "a", [(0.5, [_JSON_SCAN]), (4.0, [_OTHER_RDD])])
    fold_event_log(log, outer_only)
    assert input_scans_per_epoch(outer_only) == 1.0
    # the epoch's callees re-read the input: once in generate_batch_id, twice in apply_batch
    rereads = _drain_spans()
    log = _scan_log(tmp_path / "b", [
        (0.5, [_JSON_SCAN]),
        (1.5, [_INPUT_REREAD]),
        (4.0, [_INPUT_REREAD, _OTHER_RDD]),
        (5.0, [_INPUT_REREAD]),
    ])
    fold_event_log(log, rereads)
    assert input_scans_per_epoch(rereads) == 4.0


# --- full runs ------------------------------------------------------------------


def _run(*args: str) -> tuple[dict, dict]:
    """Run the benchmark; return its report line and its result line."""
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--seed", "3", "--seconds", "1", *args],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, report, result = proc.stdout.strip().splitlines()
    return json.loads(report), json.loads(result)


def _declared(kind: str) -> dict[str, str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


@pytest.mark.slow
@pytest.mark.parametrize("trace, kind", [("0", "end_to_end"), ("1", "per_layer")])
def test_output_line_carries_every_named_metric_with_its_unit(trace, kind):
    report, result = _run("--workload", "cdc_microbatch", "--trace", trace)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert report["ops_failed_ratio"]["value"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == _declared(kind)
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    assert {"nproc", "master", "spark", "python", "loadavg_before", "seed"} <= set(report["host"])


@pytest.mark.slow
@pytest.mark.parametrize(
    "workload, fault",
    [("cdc_microbatch", "dup_current"), ("cdc_bulk_stream", "drop_batch")],
)
def test_fault_injection_is_caught(workload, fault):
    report, result = _run("--workload", workload, "--trace", "0", "--fault", fault)
    assert not result["correct"] and result["failed"] > 0
    assert report["ops_failed_ratio"]["value"] > 0
