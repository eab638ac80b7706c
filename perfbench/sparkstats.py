"""Spark's own records, read in-process through py4j with the UI off.

* Stage totals per job group, from the AppStatusStore
  (``sc.statusStore()``): tasks, executor run and CPU time, input,
  shuffle read/write, spill.
* SQL operator metrics per execution, from the SQL status store
  (``sharedState().statusStore()``), e.g. rows out of a scan node or
  the rows and bytes crossing the Python boundary.
* Streaming progress (``StreamingQuery.recentProgress``) as dicts.
"""

from __future__ import annotations

import json
from collections import defaultdict

STAGE_FIELDS = ("numTasks", "executorRunTime", "executorCpuTime", "inputBytes", "inputRecords",
                "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled")


def _seq(s) -> list:
    """A Scala Seq (or java List) from py4j as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


def stage_totals(spark) -> dict[str, dict[str, float]]:
    """job group -> summed stage metrics over every stage of the
    group's jobs (last attempt of each stage).  Times in ms; CPU time
    is converted from ns."""
    store = spark.sparkContext._jsc.sc().statusStore()
    by_group: dict[str, set[int]] = defaultdict(set)
    for job in _seq(store.jobsList(None)):
        group = _opt(job.jobGroup())
        if group is not None:
            by_group[group].update(int(x) for x in _seq(job.stageIds()))
    out: dict[str, dict[str, float]] = {}
    for group, sids in by_group.items():
        tot = dict.fromkeys(STAGE_FIELDS, 0.0)
        for sid in sids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                continue
            for f in STAGE_FIELDS:
                tot[f] += float(getattr(st, f)())
        tot["executorCpuTime"] /= 1e6
        out[group] = tot
    return out


def stage_list(spark) -> list[dict[str, float]]:
    """Every stage of every job (last attempt), with ``STAGE_FIELDS``;
    CPU time in ms."""
    store = spark.sparkContext._jsc.sc().statusStore()
    sids = {int(x) for job in _seq(store.jobsList(None)) for x in _seq(job.stageIds())}
    out = []
    for sid in sorted(sids):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - a skipped stage has no attempt
            continue
        row = {f: float(getattr(st, f)()) for f in STAGE_FIELDS}
        row["executorCpuTime"] /= 1e6
        out.append(row)
    return out


def sql_node_metrics(spark, description: str | None = None) -> list[dict]:
    """Per-operator SQL metrics of every execution (optionally only
    those whose description matches): ``[{"execution", "description",
    "node", "metric", "value"}]`` with the value as Spark renders it."""
    store = spark._jsparkSession.sharedState().statusStore()
    rows = []
    for ex in _seq(store.executionsList()):
        if description is not None and ex.description() != description:
            continue
        eid = ex.executionId()
        values = store.executionMetrics(eid)
        for node in _seq(store.planGraph(eid).allNodes()):
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if v is not None and hasattr(v, "isDefined"):
                    v = _opt(v)
                if v is None:
                    continue
                rows.append({"execution": eid, "description": ex.description(),
                             "node": node.name(), "metric": m.name(), "value": str(v)})
    return rows


def metric_number(text: str) -> float:
    """First number of a rendered SQL metric ("1,234" or
    "total (min, med, max)\\n12.0 MiB (...)"): plain counts parse
    directly; sized/timed values take the total."""
    import re

    line = text.strip().splitlines()[-1] if "\n" in text else text
    m = re.search(r"-?[\d,]+(?:\.\d+)?", line)
    if not m:
        return 0.0
    value = float(m.group(0).replace(",", ""))
    unit = line[m.end():].strip().split(" ")[0] if m.end() < len(line) else ""
    scale = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "ms": 1, "s": 1000,
             "m": 60_000, "h": 3_600_000}
    return value * scale.get(unit, 1)


def progress_list(query) -> list[dict]:
    """``recentProgress`` as plain dicts, in batch order."""
    out = []
    for p in query.recentProgress:
        if isinstance(p, dict):
            out.append(p)
        else:
            out.append(json.loads(p.json))

    return sorted(out, key=lambda p: p["batchId"])
