"""bench.py builds each BUILD_ONCE headline query once and re-executes
that DataFrame in every timed pass.  That is only plan reuse while the
query's construction is pure Catalyst: no cache/persist materialization
in the plan."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from bench import BUILD_ONCE
from mysql_cdc_spark.queries import QUERIES


def test_memo_safe_plans_carry_no_materialization(spark, sf_dir):
    """The build-once list's audit, pinned: such a query's plan must
    contain no InMemoryRelation (cache/persist) — reusing a cached
    plan across reps would cross from plan reuse into result
    caching."""
    # Other tests legitimately cache shared subtrees (e.g. the events
    # scan); the CacheManager substitutes those into ANY later plan,
    # which is orthogonal to this audit.  Clear the session cache so
    # the audit sees only what the query ITSELF constructs; dropped
    # caches re-materialize on demand, so no other test's correctness
    # depends on them.
    spark.catalog.clearCache()
    for name in sorted(BUILD_ONCE):
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        assert "InMemoryRelation" not in buf.getvalue(), name
