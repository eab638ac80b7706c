"""Registry invariants: the verification-window rotation and the
queries/oracles contract the external gate depends on.

The rotation policy (queries._rotate_window) is least-recently-verified
cycling: never-verified names first (registration order), then verified
names ascending by the round of their most recent green driver row.  The
tests below pin (a) the window contents for the current artifact set and
(b) the structural properties that make the policy safe: it is a
permutation, it is deterministic, and previously-verified queries re-enter
the window cyclically rather than leaving the externally-checked sample
forever.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from mysql_cdc_spark import queries as q

REPO = Path(__file__).resolve().parent.parent


def _latest_rounds() -> dict[str, int]:
    """Independent re-derivation of name -> latest green round."""
    latest: dict[str, int] = {}
    for p in REPO.glob("CORRECTNESS_r*.json"):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p.name)
        if not m:
            continue
        rnd = int(m.group(1))
        for name, res in json.loads(p.read_text()).items():
            if isinstance(res, dict) and res.get("hash_match"):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def test_every_query_has_an_oracle():
    assert set(q.QUERIES) == set(q.ORACLES)


def test_headline_queries_registered():
    missing = [n for n in q.HEADLINE if n not in q.QUERIES]
    assert not missing


def test_rotation_puts_unverified_first():
    """The external gate checks the first 50 registry entries; rotation
    must front-load names with no green driver row yet (if any remain)."""
    latest = _latest_rounds()
    if not latest:  # fresh clone without artifacts: rotation is a no-op
        return
    names = list(q.QUERIES)
    n_unverified = sum(1 for n in names if n not in latest)
    window = names[: min(50, n_unverified)]
    assert all(n not in latest for n in window)
    # and rotation is a permutation, not a filter
    assert sorted(names) == sorted(set(names))
    assert len(names) == len(q.ORACLES)


def test_window_is_unverified_plus_least_recently_verified():
    """The 50-query window is exactly: all never-verified names, padded
    with the least-recently-verified names (ties broken by registration
    order).  This is the VERDICT-r7 #8 invariant, generalized: it holds
    for ANY artifact state, not just the round-8 snapshot."""
    latest = _latest_rounds()
    if not latest:
        return
    names = list(q.QUERIES)
    window = names[:50]
    unverified = [n for n in names if n not in latest]
    assert set(unverified) <= set(window), "every unverified name is in the window"
    # every verified name inside the window was verified no later than
    # any verified name outside it
    in_rounds = [latest[n] for n in window if n in latest]
    out_rounds = [latest[n] for n in names[50:] if n in latest]
    if in_rounds and out_rounds:
        assert max(in_rounds) <= min(out_rounds)


def test_verified_queries_reenter_window_cyclically():
    """ADVICE-r7 high: a verified query must not permanently leave the
    externally-checked sample.  Simulate future rounds: after each
    simulated gate run (first 50 of the current order get a green row at
    round R), re-sort with the same policy.  Within ceil(N/50) simulated
    rounds of full coverage, every query must have appeared in a window."""
    latest = dict(_latest_rounds())
    names = list(q.QUERIES)
    reg_pos = {n: i for i, n in enumerate(names)}

    def order(lat: dict[str, int]) -> list[str]:
        return sorted(names, key=lambda n: (lat.get(n, 0), reg_pos[n]))

    # sanity: current module order matches the policy applied to artifacts
    assert list(q.QUERIES) == order(latest)

    rnd = max(latest.values(), default=0)
    seen_in_window: set[str] = set()
    for _ in range(2 * ((len(names) + 49) // 50) + 2):
        rnd += 1
        window = order(latest)[:50]
        seen_in_window.update(window)
        for n in window:
            latest[n] = rnd
    assert seen_in_window == set(names), (
        "cycling must eventually re-check every registered query"
    )


def test_rotation_is_deterministic():
    """Applying the policy to the artifact state reproduces module order
    exactly (idempotent / fixpoint)."""
    latest = _latest_rounds()
    names = list(q.QUERIES)
    reg_pos = {n: i for i, n in enumerate(names)}
    rebuilt = sorted(names, key=lambda n: (latest.get(n, 0), reg_pos[n]))
    assert rebuilt == names


# ---------------------------------------------------------------------------
# r11: the domain split (queries/ package) must not change rotation
# semantics — REGISTRATION_ORDER is explicit data and rotation.py is an
# injectable interface.
# ---------------------------------------------------------------------------


def test_registration_order_covers_registry_exactly():
    """The frozen REGISTRATION_ORDER and the live registry hold the
    same names: a query registered in a domain module but missing from
    the frozen list would silently sort last (changing window
    tie-breaks); a frozen name with no registration is a dead entry."""
    from mysql_cdc_spark.queries import REGISTRATION_ORDER

    assert set(REGISTRATION_ORDER) == set(q.QUERIES)
    assert len(REGISTRATION_ORDER) == len(set(REGISTRATION_ORDER))


def test_rotation_interface_is_injectable_and_in_place(tmp_path):
    """rotation.rotate_window applies the policy to INJECTED dicts
    against an INJECTED artifact root, mutating in place (references
    held by other modules stay valid)."""
    from mysql_cdc_spark.queries.rotation import (
        driver_verified_rounds,
        rotate_window,
    )

    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "b": {"hash_match": True}, "c": {"hash_match": True},
        "z": {"hash_match": False},
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "b": {"hash_match": True},
    }))
    (tmp_path / "garbage.json").write_text("not json")

    assert driver_verified_rounds(tmp_path) == {"b": 2, "c": 1}

    queries = {"a": 1, "b": 2, "c": 3, "d": 4}
    oracles = {"a": "A", "b": "B", "c": "C", "d": "D"}
    qref, oref = queries, oracles
    rotate_window(queries, oracles, root=tmp_path)
    # never-verified first (registration order a,d), then by round asc
    assert list(queries) == ["a", "d", "c", "b"]
    assert list(oracles) == ["a", "d", "c", "b"]
    assert qref is queries and oref is oracles  # in place

    # no artifacts => no-op
    empty = tmp_path / "empty"
    empty.mkdir()
    before = list(queries)
    rotate_window(queries, oracles, root=empty)
    assert list(queries) == before


def test_finalize_order_is_idempotent_and_matches_frozen_prefix():
    """finalize_order re-applied to the live registry keeps the
    rotation fixpoint valid: re-running finalize + rotate reproduces
    the current order exactly (the split's byte-identical guarantee,
    continuously asserted rather than one-shot)."""
    from mysql_cdc_spark.queries import ORACLES, QUERIES, finalize_order
    from mysql_cdc_spark.queries.rotation import rotate_window

    current_q, current_o = list(QUERIES), list(ORACLES)
    try:
        finalize_order()
        rotate_window()
        assert list(QUERIES) == current_q
        assert list(ORACLES) == current_o
    finally:
        # restore exact order for any later test relying on it
        q2 = {n: QUERIES[n] for n in current_q}
        QUERIES.clear(); QUERIES.update(q2)
        o2 = {n: ORACLES[n] for n in current_o}
        ORACLES.clear(); ORACLES.update(o2)


def test_r12_window_is_the_50_oldest_verified_against_real_history():
    """r11 VERDICT #6: pin the LIVE gate window against the committed
    CORRECTNESS_r01..r11 artifacts with an INDEPENDENT re-derivation
    of the policy (plain json walk here, no rotation.py code), so the
    load-bearing mechanism behind the external gate's coverage claim
    stays verifiable against the real history, not just synthetic
    fixtures."""
    import json
    import re
    from pathlib import Path

    from mysql_cdc_spark.queries import QUERIES, REGISTRATION_ORDER

    root = Path(__file__).resolve().parents[1]
    latest: dict[str, int] = {}
    arts = sorted(root.glob("CORRECTNESS_r*.json"))
    assert len(arts) >= 11  # the committed r01..r11 history
    for path in arts:
        rnd = int(re.search(r"r(\d+)\.json$", path.name).group(1))
        for name, res in json.loads(path.read_text()).items():
            if isinstance(res, dict) and res.get("hash_match"):
                latest[name] = max(latest.get(name, 0), rnd)

    reg_pos = {n: i for i, n in enumerate(REGISTRATION_ORDER)}
    expected = sorted(
        QUERIES, key=lambda n: (latest.get(n, 0), reg_pos.get(n, len(reg_pos)))
    )
    window = list(QUERIES)[:50]
    assert window == expected[:50]
    # every never-verified name (new this round) must sit inside the
    # window, and no name verified more recently than a window member
    # may be outside it
    unverified = [n for n in QUERIES if n not in latest]
    assert all(n in window for n in unverified)
    worst_in = max(latest.get(n, 0) for n in window)
    best_out = min((latest[n] for n in list(QUERIES)[50:] if n in latest), default=99)
    assert worst_in <= best_out


def test_scratch_gc_spares_live_process_checkpoints(tmp_path, monkeypatch):
    """The import-time scratch GC must never delete a cp_*/blstream_*
    dir owned by a LIVE process: a concurrent `import queries` (bench,
    driver smoke check, a one-liner) runs the GC while another process
    may hold an active streaming checkpoint there — deleting it kills
    that stream with FileNotFoundException on its next micro-batch
    (observed: a registry-count one-liner killed the suite's
    continuous-query test).  Owner PID is embedded in the name; only
    dead-PID and legacy (PID-less) names are reaped — and even those
    only once QUIET past the mtime grace window (r12 ADVICE: a
    still-running process on the OLD naming, or PID reuse, would
    otherwise lose a live checkpoint; a live checkpoint is written
    every micro-batch, so recent mtime == possibly live)."""
    import os
    import time

    from mysql_cdc_spark.queries import _shared

    root = tmp_path / "stream_tmp"
    root.mkdir()
    live_pid = os.getpid()
    # find a dead pid: fork-less heuristic — very high pids are unused
    dead_pid = 4194000
    while _shared._pid_alive(dead_pid):  # pragma: no cover - unlucky host
        dead_pid -= 1
    live_cp = root / f"cp_cdc{live_pid}_ab12cd34ef"
    live_sink = root / f"cp_sink_{live_pid}_ab12cd34ef"
    live_bl = root / f"blstream_{live_pid}_ab12cd34ef"
    dead_cp = root / f"cp_cdc{dead_pid}_ab12cd34ef"
    legacy_cp = root / "cp_cdc_ab12cd34ef"          # pre-PID naming
    legacy_bl = root / "blstream_ab12cd34ef"
    # dead-PID name but actively written (PID reuse shape): held back
    dead_busy = root / f"cp_cdc{dead_pid}_ffffffffff"
    # legacy name, actively written (old-version process still live)
    legacy_busy = root / "cp_cdc_ffffffffff"
    stale_fixture = root / "binlog_sf0.001_v1"       # versioned, old
    current_fixture = root / f"binlog_sf0.001_v{_shared._FIXTURE_VERSION}"
    aged = time.time() - _shared._GC_GRACE_SECONDS - 60
    for d in (live_cp, live_sink, live_bl, dead_cp, legacy_cp, legacy_bl,
              dead_busy, legacy_busy, stale_fixture, current_fixture):
        d.mkdir()
        (d / "marker").write_text("x")
        if d not in (dead_busy, legacy_busy):
            os.utime(d / "marker", (aged, aged))
            os.utime(d, (aged, aged))

    monkeypatch.setattr(_shared, "_STREAM_TMP", str(root))
    _shared._gc_stale_fixture_versions()

    assert live_cp.exists() and live_sink.exists() and live_bl.exists()
    assert current_fixture.exists()
    assert dead_busy.exists() and legacy_busy.exists()  # inside grace window
    assert not dead_cp.exists()
    assert not legacy_cp.exists() and not legacy_bl.exists()
    assert not stale_fixture.exists()

    # ...and once quiet past the window, the held-back dirs are reaped
    for d in (dead_busy, legacy_busy):
        os.utime(d / "marker", (aged, aged))
        os.utime(d, (aged, aged))
    _shared._gc_stale_fixture_versions()
    assert not dead_busy.exists() and not legacy_busy.exists()


def test_scratch_names_carry_owner_pid():
    import os
    import re

    from mysql_cdc_spark.queries import _shared

    for prefix in ("sink", "blstream"):
        name = _shared._scratch_name(prefix)
        m = re.match(rf"^{prefix}_(\d+)_[0-9a-f]{{10}}$", name)
        assert m and int(m.group(1)) == os.getpid()


def test_declarative_first_stateful_policy():
    """r12 VERDICT #6 made executable: the state-scale ramp measured
    applyInPandasWithState's per-group Python cost at ~0.9 ms/key/batch
    (LINEAR in key cardinality; 30x the declarative twin at 500k keys),
    so JVM-declarative streaming aggregation is the DEFAULT and the
    Python custom-state operator is an escape hatch.  This test fails
    when a registered streaming query reaches applyInPandasWithState —
    directly or through a streaming/ helper — without being on the
    exact, justified allowlist below.  Adding a stateful query means
    adding it here WITH its justification (or writing it declaratively).
    """
    import inspect
    import pkgutil
    import re

    import mysql_cdc_spark.queries as queries_pkg
    import mysql_cdc_spark.streaming as streaming_pkg
    from mysql_cdc_spark.queries import QUERIES

    # Helpers in streaming/ that wrap the custom-state API
    helpers: set[str] = set()
    import importlib

    for m in pkgutil.iter_modules(streaming_pkg.__path__):
        mod = importlib.import_module(f"mysql_cdc_spark.streaming.{m.name}")
        for attr_name, attr in vars(mod).items():
            if inspect.isfunction(attr) and attr.__module__ == mod.__name__:
                try:
                    if "applyInPandasWithState" in inspect.getsource(attr):
                        helpers.add(attr_name)
                except (OSError, TypeError):  # pragma: no cover
                    pass
    assert helpers, "helper scan broke — expected at least one wrapper"

    pattern = re.compile(
        r"applyInPandasWithState|" + "|".join(rf"\b{h}\b" for h in sorted(helpers))
    )

    def code_only(fn) -> str:
        # docstrings legitimately DISCUSS the API (the twin's docstring
        # explains why it avoids it); match code, not prose
        return re.sub(r'"""(?:[^"]|"(?!""))*"""', "", inspect.getsource(fn))

    offenders = {
        name for name, fn in QUERIES.items() if pattern.search(code_only(fn))
    }

    # The exact allowed set.  Each entry keeps the custom
    # state-transfer capability itself driver-verified (SURVEY §2.6
    # streaming checklist rows).  The legitimate reasons to extend
    # this list are semantics aggregation cannot express: event-driven
    # TIMEOUTS (state expiry emitting rows with no triggering input)
    # and custom gap/session logic beyond F.session_window.
    allowed = {
        # incremental DDL fold kept as the multi-batch state-transfer
        # proof over a per-key dict state shape
        "cdc_stream_schema_version",
        # transaction assembly (r14 VERDICT #2): commit-boundary
        # folding in offset order with gap holdback and EVENT-TIME
        # TIMEOUT GC of abandoned partials — exactly the two
        # semantics this comment names as legitimate extensions
        # (state expiry + custom non-window grouping); no windowed
        # aggregation can express "emit when the XID event arrives,
        # never emit uncommitted buffers"
        "cdc_stream_txn_events",
        # the SAME justified assembler fed by the mysql_binlog
        # streaming DataSource (r16 composition gate): raw bytes in,
        # committed transactions out — the semantics are identical to
        # cdc_stream_txn_events, only the source differs
        "cdc_ds_stream_txn",
    }
    assert offenders == allowed, (
        f"stateful-policy drift: {offenders ^ allowed} — new "
        "applyInPandasWithState queries need a justification here, or "
        "a declarative rewrite (the measured default: PLANS.md r12 "
        "state ramp, 30x at 500k keys)"
    )

