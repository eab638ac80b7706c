"""Tests of the benchmark's own pieces: seeded inputs, the percentile
rule, the transaction → covering-batch lag join and the ladder's stop
rule, and the run's clean-up of the processes it started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import gen  # noqa: E402
from perfbench.stats import (  # noqa: E402
    covering_batches,
    covering_lags,
    ladder_max,
    stream_position,
    summarize,
    tail_level,
)


def _log_bytes(seed: int) -> list[bytes]:
    return gen.encode(gen.make_model(seed, 300, 50)).files


def test_same_seed_same_log_bytes():
    assert _log_bytes(7) == _log_bytes(7)


def test_other_seed_other_log_bytes():
    assert _log_bytes(7) != _log_bytes(8)


def test_log_rotates_and_every_txn_ends_in_its_file():
    log = gen.encode(gen.make_model(1, 4000, 1000))
    assert len(log.files) > 1
    assert all(len(f) <= gen.ROTATE_BYTES + 64 * 1024 for f in log.files)
    for fi, end in log.txn_end:
        assert 0 < end <= len(log.files[fi])


@pytest.mark.parametrize("n, level", [
    (9, None), (99, None), (100, 90.0), (199, 90.0), (200, 95.0),
    (999, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9),
])
def test_tail_level_keeps_ten_samples_beyond(n, level):
    assert tail_level(n) == level


def test_summarize_reports_tail_only_with_enough_samples():
    few = summarize([float(i) for i in range(50)])
    assert few["tail"] is None and few["p50"] == 24.5
    many = summarize([float(i) for i in range(1000)])
    assert many["tail_level"] == 99.0
    assert many["tail"] == pytest.approx(989.01)


def test_stream_position_reads_json_and_dict_repr():
    assert stream_position('{"file": "binlog.000002", "pos": 1234}') == ("binlog.000002", 1234)
    assert stream_position("{'file': 'binlog.000001', 'pos': 4}") == ("binlog.000001", 4)
    assert stream_position(None) == ("", -1)


def test_covering_lags_join_first_covering_batch():
    f0, f1 = "binlog.000000", "binlog.000001"
    txn_end = [(f0, 100), (f0, 200), (f0, 300), (f1, 50), (f1, 90)]
    due = [0.0, 1.0, 2.0, 3.0, 4.0]
    batches = [
        ((f0, 200), 5.0),    # covers txns 0 and 1
        ((f0, 200), 6.0),    # an empty batch repeats the offset
        ((f1, 60), 7.0),     # crosses the rotation: covers 2 and 3
    ]
    assert covering_lags(txn_end, due, batches) == [5.0, 4.0, 5.0, 4.0, None]
    assert covering_batches(txn_end, [b[0] for b in batches]) == [0, 0, 2, 2, None]


def test_ladder_stops_at_first_failing_step():
    steps = [
        {"rate": 8000, "lag_tail_ms": 2.0, "drained": True},
        {"rate": 16000, "lag_tail_ms": 49.0, "drained": True},
        {"rate": 24000, "lag_tail_ms": 60.0, "drained": True},
        {"rate": 32000, "lag_tail_ms": 3.0, "drained": True},
    ]
    assert ladder_max(steps, 50.0) == 16000.0


def test_ladder_step_with_backlog_fails():
    steps = [{"rate": 8000, "lag_tail_ms": 1.0, "drained": False}]
    assert ladder_max(steps, 50.0) == 0.0


def test_ladder_step_the_generator_missed_fails():
    steps = [
        {"rate": 8000, "lag_tail_ms": 1.0, "drained": True},
        {"rate": 16000, "lag_tail_ms": 1.0, "drained": True, "generator_ok": False},
    ]
    assert ladder_max(steps, 50.0) == 8000.0


def test_end_processes_waits_for_children_and_orphans(tmp_path):
    # In its own process: it becomes the reaper of orphans for good.
    code = """
import os, subprocess, sys
sys.path.insert(0, sys.argv[1])
from perfbench import harness
harness.adopt_orphans()
subprocess.Popen(["sleep", "60"])
out = subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"], capture_output=True, text=True)
orphan = int(out.stdout)
assert orphan in harness._descendants(os.getpid())
signalled = harness.end_processes(grace_s=0.5)
assert orphan in signalled and not harness._descendants(os.getpid())
assert not os.path.exists(f"/proc/{orphan}")
"""
    root = str(Path(__file__).resolve().parent.parent)
    subprocess.run([sys.executable, "-c", code, root], check=True, timeout=60, cwd=tmp_path)
