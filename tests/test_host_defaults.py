"""Library defaults that depend on where and on what the engine runs:
the scratch root follows the imported checkout, and the driver heap
follows the host's RAM."""

from __future__ import annotations

import inspect
import shutil
import subprocess
import sys
from pathlib import Path

import mysql_cdc_spark
from mysql_cdc_spark import STREAM_TMP
from mysql_cdc_spark.session import driver_memory


def test_stream_tmp_lives_in_the_importing_checkout(tmp_path):
    from mysql_cdc_spark.queries import _shared
    from mysql_cdc_spark.streaming.latency import measure_latency
    from mysql_cdc_spark.streaming.runtime import ensure_event_log

    root = Path(mysql_cdc_spark.__file__).resolve().parent.parent
    assert Path(STREAM_TMP) == root / ".stream_tmp"
    assert _shared._STREAM_TMP == STREAM_TMP
    assert inspect.signature(ensure_event_log).parameters["root"].default == STREAM_TMP
    assert (
        inspect.signature(measure_latency).parameters["scratch_root"].default
        == STREAM_TMP
    )

    # a copy of the package imported from elsewhere scratches beside itself
    pkg = tmp_path / "mysql_cdc_spark"
    pkg.mkdir()
    shutil.copy(mysql_cdc_spark.__file__, pkg / "__init__.py")
    out = subprocess.run(
        [sys.executable, "-c", "import mysql_cdc_spark as m; print(m.STREAM_TMP)"],
        cwd=tmp_path, env={"PYTHONPATH": str(tmp_path)},
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert Path(out) == tmp_path.resolve() / ".stream_tmp"


def test_driver_memory_is_capped_by_host_ram():
    gib = 1 << 30
    assert driver_memory(None, 64 * gib) == "16384m"
    assert driver_memory(None, 16 * gib) == "8192m"
    assert driver_memory(None, 6 * gib) == "3072m"
    assert driver_memory("", 16 * gib) == "8192m"
    assert driver_memory("4g", 16 * gib) == "4g"
    assert driver_memory("32g", 8 * gib) == "32g"
