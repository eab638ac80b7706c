"""Cross-domain helpers shared by the query domain modules (split from queries.py)."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from mysql_cdc_spark import STREAM_TMP as _STREAM_TMP
from mysql_cdc_spark.sources.events_cdc import (
    changes,
    rows_changes,
    rows_delta_type,
    with_changes,
)


def _rows_dt(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The direct derivation (no 4-way envelope explode) — row-identical
    # to rows_delta_type(changes(...)), see events_cdc.rows_changes.
    return rows_changes(spark, sf_dir)


def _rows_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    # After-images only (r19): row-identical to
    # _rows_dt(...).filter(_delta_type != 'update-before') but with no
    # inline() Generate — for consumers that exclude or never select
    # the update-before retract rows.  See events_cdc.rows_changes.
    return rows_changes(spark, sf_dir, update_pairs=False)


# ---------------------------------------------------------------------------
# CDC core — the reference's own query surface (SURVEY §2.3, §3.1)
# ---------------------------------------------------------------------------

_ROW_COLS = ["offset", "ts", "db", "tbl", "id", "value", "_delta_type"]


# ---------------------------------------------------------------------------
# Streaming parity: the SAME operators over a Structured Streaming
# source, drained with Trigger.AvailableNow into a memory sink and
# checked against the BATCH oracle — streaming/batch equivalence is the
# correctness contract (streaming/runtime.py).
# ---------------------------------------------------------------------------

def _footer_max_event_id(sf_dir: str) -> int | None:
    """max(event_id) from the parquet footer's row-group statistics —
    a job-free metadata read (shared by _head_offset and the fixture
    generators that must size event ranges before any fixture
    exists).  None when the footer lacks usable statistics."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(f"{sf_dir}/events.parquet").metadata
        mx = None
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                col = rg.column(j)
                if col.path_in_schema == "event_id":
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        return None
                    mx = st.max if mx is None else max(mx, st.max)
        return int(mx) if mx is not None else None
    except Exception:
        return None


def _head_offset(spark, sf_dir: str) -> int:
    """Log head offset WITHOUT a Spark job (VERDICT r8 #6): the change
    stream derives offset = event_id*4 + seq with seq <= 3 (events_cdc
    §1.5), so the head is 4*max(event_id) + 3 — and max(event_id)
    comes from the parquet footer's row-group statistics, the same
    job-free high-watermark a live deployment reads from the tailer's
    journal instead of re-scanning the log.  Falls back to one Spark
    aggregate if the footer lacks statistics."""
    mx = _footer_max_event_id(sf_dir)
    if mx is not None:
        return mx * 4 + 3
    env = changes(spark, sf_dir)  # full envelope: head is the xid row (seq 3)
    return int(env.agg(F.max("offset")).collect()[0][0])


# Bump when the derivation rules change: versioned scratch dirs ensure
# stale materializations from an older derivation are never reused.
_FIXTURE_VERSION = 7


def _scratch_name(prefix: str) -> str:
    """One-shot scratch dir name carrying the owning PID so the
    import-time GC can tell a live checkpoint from an orphan.  Two
    repo processes routinely overlap (bench.py while the driver smoke
    check runs; a tool sweep while pytest streams) — a PID-blind GC
    deleted a LIVE query's checkpoint out from under another process
    (found when a registry-count one-liner killed the suite's
    continuous-query test mid-stream)."""
    import os
    import uuid

    return f"{prefix}_{os.getpid()}_{uuid.uuid4().hex[:10]}"


def _pid_alive(pid: int) -> bool:
    import os

    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # pragma: no cover - exists, not ours
        return True
    return True


# Hold-back for GC candidates whose owner PID is dead or unknown: a
# live streaming checkpoint is written every micro-batch, so anything
# quiet this long is safe to reap even under PID reuse / legacy names.
_GC_GRACE_SECONDS = 15 * 60


def _gc_stale_fixture_versions() -> None:
    """Remove scratch fixture dirs from older _FIXTURE_VERSIONs and
    ORPHANED one-shot scratch (blstream_*/cp_*) so version bumps don't
    accumulate dead materializations across rounds.  One-shot dirs are
    only reaped when their embedded owner PID is dead — a concurrent
    process's live streaming checkpoint must never be deleted (its
    FileStreamSource dies with FileNotFoundException on the next
    micro-batch).  Legacy names without a PID are from before this
    scheme and are PROBABLY orphans — but a still-running process on
    the old naming would be mis-reaped, and PID reuse can make a true
    orphan look alive; so any non-live candidate is additionally held
    back while recently modified (r12 ADVICE: an mtime grace window —
    a LIVE checkpoint is touched every micro-batch, an orphan goes
    quiet), which covers the mixed-version overlap without keeping
    dead dirs around past one GC cycle."""
    import pathlib
    import re
    import shutil
    import time

    root = pathlib.Path(_STREAM_TMP)
    if not root.exists():
        return
    versioned = re.compile(r".*_v(\d+)$")
    pid_named = re.compile(r"^(?:blstream|cp)_[a-z]*_?(\d+)_[0-9a-f]+$")
    grace = time.time() - _GC_GRACE_SECONDS
    for child in root.iterdir():
        m = versioned.match(child.name)
        if m and int(m.group(1)) < _FIXTURE_VERSION:
            shutil.rmtree(child, ignore_errors=True)
        elif child.name.startswith(("blstream_", "cp_")):
            p = pid_named.match(child.name)
            if p is not None and _pid_alive(int(p.group(1))):
                continue  # owner demonstrably alive
            try:
                recently_touched = max(
                    (e.stat().st_mtime for e in child.rglob("*")),
                    default=child.stat().st_mtime,
                ) > grace
            except OSError:
                recently_touched = True  # racing a writer — hold back
            if not recently_touched:
                shutil.rmtree(child, ignore_errors=True)


_gc_stale_fixture_versions()


def _is_retryable_stream_failure(exc: Exception) -> bool:
    """Classify by exception class + Spark error class, not message
    substrings (ADVICE r7): only StreamingQueryException — the wrapper
    Spark raises when a STARTED stream dies (error class STREAM_FAILED,
    which covers state-store commit races and executor churn) — is
    retryable.  Deterministic failures in the plan raise
    AnalysisException before the stream starts and are never retried."""
    try:
        from pyspark.errors import StreamingQueryException
    except ImportError:  # pragma: no cover - pyspark always present here
        return False
    if not isinstance(exc, StreamingQueryException):
        return False
    for getter in ("getCondition", "getErrorClass"):
        fn = getattr(exc, getter, None)
        if fn is None:
            continue
        try:
            cond = fn()
        except Exception:  # noqa: BLE001 - fall through to next getter
            continue
        if cond is not None:
            return cond == "STREAM_FAILED"
    return True  # stream-side failure without a condition tag


def _drain(transformed: DataFrame, output_mode: str = "append") -> DataFrame:
    import shutil
    import uuid

    from mysql_cdc_spark.streaming import runtime as rt

    # One retry on transient stream-infrastructure failures (state-store
    # commit races, executor churn): the drain is deterministic — same
    # source files, fresh checkpoint — so a retry recomputes the same
    # answer; without it one transient marks a correctness row red.
    last_exc: Exception | None = None
    for _ in range(2):
        name = _scratch_name("sink")
        cp = f"{_STREAM_TMP}/cp_{name}"
        try:
            return rt.run_to_memory(transformed, name, cp, output_mode)
        except Exception as exc:  # noqa: BLE001 - classified below
            if not _is_retryable_stream_failure(exc):
                raise
            last_exc = exc
        finally:
            shutil.rmtree(cp, ignore_errors=True)
    raise last_exc


def _docs(spark, sf_dir):
    from mysql_cdc_spark.sources.io import read_table

    return read_table(spark, sf_dir, "documents")


def _events(spark, sf_dir):
    from mysql_cdc_spark.sources.io import read_table

    return read_table(spark, sf_dir, "events")


# Engine-neutral row checksum: md5 of a canonical '|'-joined string,
# folded to a 52-bit int (sketches.v52_expr idiom) and BIT_XOR-folded
# (pt-table-checksum's aggregate: commutative, associative, and bounded
# to 52 bits at any row count — a SUM would overflow) — an
# order-insensitive table checksum (the pt-table-checksum pattern for
# validating a replica against the change stream).  Value goes through
# DECIMAL(12,2) so both engines format the identical string.
_CKSUM_ROW_SPARK = (
    "concat(cast(`offset` as string), '|', coalesce(cast(id as string), 'N'), '|', "
    "coalesce(cast(cast(value as decimal(12,2)) as string), 'N'), '|', _delta_type)"
)


def _gc_scratch(root: str, prefix: str) -> None:
    """Remove previous invocations' scratch dirs for `prefix`,
    PID-aware (the _scratch_name convention): two repo processes
    routinely overlap — never delete a LIVE sibling's dir, only
    orphans whose owning process is gone."""
    import pathlib
    import shutil

    for old in pathlib.Path(root).glob(f"{prefix}_*"):
        try:
            owner = int(old.name.split("_")[len(prefix.split("_"))])
        except (IndexError, ValueError):
            owner = -1
        if owner != -1 and _pid_alive(owner):
            continue
        shutil.rmtree(old, ignore_errors=True)
