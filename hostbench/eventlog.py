"""Roll a local Spark event log up by job group.

The traced run writes an uncompressed, non-rolling event log (Spark 4.1
defaults to zstd, and no ``zstandard`` module is needed this way). Every
job carries the group ``<workload>:<op>:<layer>`` that the benchmark's
span set around the call that launched it. ``rollup`` reads the log and
returns one ``Group`` per job group:

- job count and job intervals (submit -> complete, epoch ms);
- task count and task metrics: run time, GC, shuffle write, spill,
  bytes written;
- SQL operator metrics of the group's executions, keyed by operator
  family: ``python`` (MapInArrow / MapInPandas / cogroup / eval nodes:
  "time to run Python workers", "data sent to / returned from Python
  workers", "number of output rows", "time to start Python workers"),
  ``scan`` ("size of files read"), ``exchange`` ("shuffle bytes
  written", "fetch wait time", "records read");
- the group's SQL executions with their start/end times and whether
  their plan holds a Python node.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

_PY_MARKERS = ("MapInArrow", "MapInPandas", "InPandas", "InArrow", "EvalPython")


def node_family(node_name: str) -> str | None:
    if any(m in node_name for m in _PY_MARKERS):
        return "python"
    if node_name.startswith("Scan "):
        return "scan"
    if "Exchange" in node_name or node_name.startswith("AQEShuffleRead"):
        return "exchange"
    return None


@dataclass
class SqlExec:
    exec_id: int
    start_ms: int
    end_ms: int = 0
    python: bool = False


@dataclass
class Group:
    jobs: int = 0
    job_intervals: list = field(default_factory=list)  # (submit_ms, complete_ms)
    tasks: int = 0
    task_run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    output_bytes: float = 0.0
    sql: dict = field(default_factory=lambda: defaultdict(float))  # (family, metric) -> sum
    execs: list = field(default_factory=list)  # SqlExec


def _walk(plan: dict, out: dict, exec_python: set, exec_id: int) -> None:
    fam = node_family(plan.get("nodeName", ""))
    if fam == "python":
        exec_python.add(exec_id)
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (fam, m["name"], m["metricType"])
    for c in plan.get("children", []):
        _walk(c, out, exec_python, exec_id)


def _value(update, metric_type: str) -> float:
    v = float(update)
    return v / 1e6 if metric_type == "nsTiming" else v  # timings in ms


def rollup(path: str) -> dict[str, Group]:
    with open(path) as fp:
        events = [json.loads(line) for line in fp if line.strip()]

    accs: dict[int, tuple] = {}
    exec_python: set[int] = set()
    execs: dict[int, SqlExec] = {}
    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            eid = e["executionId"]
            _walk(e["sparkPlanInfo"], accs, exec_python, eid)
            if kind == "SparkListenerSQLExecutionStart":
                execs[eid] = SqlExec(eid, e["time"])
        elif kind == "SparkListenerSQLExecutionEnd" and e["executionId"] in execs:
            execs[e["executionId"]].end_ms = e["time"]

    groups: dict[str, Group] = defaultdict(Group)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, int] = {}
    exec_group: dict[int, str] = {}
    driver_updates = []  # applied once every execution's group is known
    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            gid = props.get("spark.jobGroup.id") or "ungrouped"
            jid = e["Job ID"]
            job_group[jid] = gid
            job_submit[jid] = e["Submission Time"]
            groups[gid].jobs += 1
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, gid)
            if "spark.sql.execution.id" in props:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), gid)
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            groups[job_group[jid]].job_intervals.append((job_submit[jid], e["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(e["Stage ID"], "ungrouped")]
            g.tasks += 1
            tm = e.get("Task Metrics") or {}
            g.task_run_ms += tm.get("Executor Run Time", 0)
            g.gc_ms += tm.get("JVM GC Time", 0)
            g.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            g.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g.output_bytes += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                meta = accs.get(a["ID"])
                if meta and meta[0] and "Update" in a:
                    g.sql[(meta[0], meta[1])] += _value(a["Update"], meta[2])
        elif kind == "SparkListenerDriverAccumUpdates":
            driver_updates.append(e)

    for e in driver_updates:
        g = groups[exec_group.get(e["executionId"], "ungrouped")]
        for acc_id, val in e["accumUpdates"]:
            meta = accs.get(acc_id)
            if meta and meta[0]:
                g.sql[(meta[0], meta[1])] += _value(val, meta[2])
    for eid, ex in execs.items():
        ex.python = eid in exec_python
        groups[exec_group.get(eid, "ungrouped")].execs.append(ex)
    return dict(groups)


def union_ms(intervals: list) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
