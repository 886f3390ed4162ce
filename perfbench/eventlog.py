"""Spark event-log parser and layer attribution for the traced run.

The traced child runs with ``spark.eventLog.enabled`` and tags each of
the benchmark's calls with ``setJobGroup``. This module reads the
uncompressed JSON-lines log back and attributes work to layers:

- jobs → the benchmark call (job group) that launched them;
- SQL executions → a checkpoint sub-layer from the written path
  (``…/documents``, ``…/rejects``, ``…/checkpoint``) or the JVM call
  (``Dataset.count`` closes the lineage step; other reads plan the resume);
- stages → a plan layer from the SQL plan nodes whose metrics their
  tasks updated: the kernel UDF, the shard path, the salt exchange's map
  side, and source scans (metadata-only scans are the reject branch).
"""

from __future__ import annotations

import json
import re
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

_EXCHANGE_WRITE = ("shuffle bytes written", "shuffle records written", "shuffle write time")


@dataclass
class Stage:
    id: int
    submit: int = 0
    tasks: list = field(default_factory=list)
    # (plan node id, metric name) pairs its tasks updated
    touched: set = field(default_factory=set)


@dataclass
class Job:
    id: int
    group: str | None
    execution: int | None
    stage_ids: list
    submit: int = 0
    complete: int = 0


@dataclass
class Execution:
    id: int
    details: str = ""
    plan: str = ""
    start: int = 0
    end: int = 0


@dataclass
class EventLog:
    jobs: dict
    stages: dict
    executions: dict
    nodes: dict        # plan node id -> (nodeName, simpleString, children ids)
    acc_node: dict     # accumulator id -> (plan node id, metric name)
    planning_acc: dict  # accumulator id -> summed updates made outside tasks


def _walk(info: dict, nodes: dict, acc_node: dict, counter: list) -> int:
    nid = counter[0]
    counter[0] += 1
    kids = [_walk(c, nodes, acc_node, counter) for c in info.get("children", [])]
    nodes[nid] = (info.get("nodeName", ""), info.get("simpleString", ""), kids)
    for m in info.get("metrics", []):
        acc_node[m["accumulatorId"]] = (nid, m["name"])
    return nid


def parse(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    execs: dict[int, Execution] = {}
    nodes: dict = {}
    acc_node: dict = {}
    planning_acc: dict = defaultdict(float)
    counter = [0]
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                ex = props.get("spark.sql.execution.id")
                j = Job(
                    e["Job ID"],
                    props.get("spark.jobGroup.id"),
                    int(ex) if ex is not None else None,
                    list(e["Stage IDs"]),
                    submit=e["Submission Time"],
                )
                jobs[j.id] = j
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]].complete = e["Completion Time"]
            elif ev in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
                si = e["Stage Info"]
                st = stages.setdefault(si["Stage ID"], Stage(si["Stage ID"]))
                st.submit = si.get("Submission Time", st.submit)
            elif ev == "SparkListenerTaskEnd":
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                st = stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
                updates = {}
                for a in ti.get("Accumulables", []):
                    aid = a.get("ID")
                    try:
                        val = float(a.get("Update", 0))
                    except (TypeError, ValueError):
                        continue
                    updates[aid] = val
                st.tasks.append(
                    {
                        "launch": ti["Launch Time"],
                        "finish": ti["Finish Time"],
                        "failed": e.get("Task End Reason", {}).get("Reason") != "Success",
                        "run_ms": tm.get("Executor Run Time", 0),
                        "input_bytes": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "shuffle_write_bytes": (tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        "updates": updates,
                    }
                )
            elif ev.endswith("SparkListenerSQLExecutionStart"):
                x = execs.setdefault(e["executionId"], Execution(e["executionId"]))
                x.details = e.get("details", "")
                x.plan = e.get("physicalPlanDescription", "")
                x.start = e.get("time", 0)
                _walk(e["sparkPlanInfo"], nodes, acc_node, counter)
            elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                _walk(e["sparkPlanInfo"], nodes, acc_node, counter)
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                for aid, val in e.get("accumUpdates", []):
                    planning_acc[aid] += float(val)
            elif ev.endswith("SparkListenerSQLExecutionEnd"):
                execs.setdefault(e["executionId"], Execution(e["executionId"])).end = e.get("time", 0)
    # plan versions repeat the same accumulator ids; the last node wins,
    # which is fine: every version names the same operator
    for st in stages.values():
        for t in st.tasks:
            for aid in t["updates"]:
                if aid in acc_node:
                    st.touched.add(acc_node[aid])
    return EventLog(jobs, stages, execs, nodes, acc_node, dict(planning_acc))


# ---------------------------------------------------------------------------
# attribution
# ---------------------------------------------------------------------------


def _node_str(log: EventLog, nid: int) -> str:
    name, simple, _ = log.nodes[nid]
    return f"{name} {simple}"


_SCAN_COLS = re.compile(r"FileScan \w+ \[([^\]]*)\]")
_SCAN_LOC = re.compile(r"Location: \w+\(\d+ paths?\)\[([^\]]+)\]")
_WRITE_PATH = re.compile(r"Execute InsertIntoHadoopFsRelationCommand\n(?:.*\n)*?Arguments: (\S+?),")


def scan_info(log: EventLog, nid: int) -> tuple[list[str], str] | None:
    """(columns read, location) of a file-scan plan node, else None."""
    name, simple, _ = log.nodes[nid]
    m = _SCAN_COLS.search(simple)
    if not name.startswith("Scan") or m is None:
        return None
    cols = [c.split("#")[0] for c in m.group(1).split(",") if c]
    loc = _SCAN_LOC.search(simple)
    return cols, loc.group(1) if loc else ""


def scan_kind(cols: list[str], loc: str, source: str) -> str:
    """``scan``: the source with its content column; ``reject``: the
    metadata-width source scan of the reject branch; ``readback``: any
    other scan (written outputs, key-only re-reads of the source)."""
    if source and loc.endswith(source):
        if "content" in cols:
            return "scan"
        if "magic" in cols:
            return "reject"
    return "readback"


def stage_layers(log: EventLog, st: Stage, source: str) -> set[str]:
    """Plan layers a stage ran: ``kernel``, ``shard``, ``salt`` (map side
    of the doc_id salt exchange) and the scan kinds of ``scan_kind``."""
    out = set()
    for nid, metric in st.touched:
        s = _node_str(log, nid)
        if "ArrowEvalPython" in s and "extract_spans_udf" in s:
            out.add("kernel")
        elif any(k in s for k in ("shard_offsets_udf", "shard_lines_udf", "decode_filters_udf", "merge_sharded_lines")):
            out.add("shard")
        elif s.startswith("Exchange") and "REPARTITION_BY_NUM" in s and "xxhash64(doc_id" in s:
            if metric in _EXCHANGE_WRITE:
                out.add("salt")
        else:
            info = scan_info(log, nid)
            if info is not None:
                out.add(scan_kind(*info, source))
    return out


def execution_layer(x: Execution) -> str:
    """Checkpoint sub-layer of one SQL execution of ``run_extract_job``:
    the directory a write targets, else the JVM call that ran it."""
    m = _WRITE_PATH.search(x.plan)
    if m is not None:
        target = m.group(1).rstrip("/")
        for layer, suffix in (("docs_write", "/documents"), ("rejects_write", "/rejects"), ("lineage", "/checkpoint")):
            if target.endswith(suffix):
                return layer
        return "write"
    if "Dataset.count" in x.details:
        return "lineage"
    return "resume"


def executed_scans(log: EventLog, stages: list[Stage]) -> list[dict]:
    """File scans whose metrics the given stages updated, each once:
    columns, location and ``size of files read`` (set while planning,
    outside tasks)."""
    seen: dict[int, dict] = {}
    for st in stages:
        for nid, _metric in st.touched:
            info = scan_info(log, nid)
            if info is None:
                continue
            accs = {met: a for a, (n, met) in log.acc_node.items() if n == nid}
            key = accs.get("scan time", accs.get("number of output rows", nid))
            if key not in seen:
                size = log.planning_acc.get(accs.get("size of files read"), 0.0)
                seen[key] = {"columns": info[0], "location": info[1], "files_bytes": size}
    return list(seen.values())


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _group_stages(log: EventLog, jobs: list[Job]) -> list[Stage]:
    ids = {s for j in jobs for s in j.stage_ids if s in log.stages and log.stages[s].tasks}
    return [log.stages[s] for s in sorted(ids)]


def group_metrics(log: EventLog, group: str, source: str, scan_bytes) -> dict:
    """Spark-side metrics of one tagged benchmark call (an extract action
    or one leg of a job): job/stage/task counts, failed tasks, task queue
    wait, executor time and shuffle bytes per stage layer, bytes scanned
    per scan kind (``scan_bytes(scan)`` sizes one executed scan), and the
    kernel stage's Python time, task skew and input rows."""
    jobs = [j for j in log.jobs.values() if j.group == group]
    stages = _group_stages(log, jobs)
    tasks = [t for st in stages for t in st.tasks]
    run_s: dict = defaultdict(float)
    shuffle_mb: dict = defaultdict(float)
    skews = []
    for st in stages:
        layers = stage_layers(log, st, source) or {"other"}
        # a stage is charged to its most specific layer
        layer = next(
            l for l in ("kernel", "shard", "reject", "salt", "scan", "readback", "other") if l in layers
        )
        run_s[layer] += sum(t["run_ms"] for t in st.tasks) / 1e3
        shuffle_mb[layer] += sum(t["shuffle_write_bytes"] for t in st.tasks) / 2**20
        if layer == "kernel":
            durs = [t["finish"] - t["launch"] for t in st.tasks]
            med = _median(durs)
            skews.append(max(durs) / med if med > 0 else 1.0)
    scan_mb: dict = defaultdict(float)
    for sc in executed_scans(log, stages):
        scan_mb[scan_kind(sc["columns"], sc["location"], source)] += scan_bytes(sc) / 2**20
    py = dict.fromkeys(("time to run Python workers", "time to initialize Python workers"), 0.0)
    for aid, (nid, metric) in log.acc_node.items():
        if metric in py and "extract_spans_udf" in _node_str(log, nid):
            py[metric] += sum(t["updates"].get(aid, 0.0) for t in tasks) / 1e3
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": len(tasks),
        "failed_tasks": sum(t["failed"] for t in tasks),
        "task_wait_s": sum(max(0, t["launch"] - st.submit) for st in stages for t in st.tasks) / 1e3,
        "run_s": dict(run_s),
        "shuffle_write_mb": dict(shuffle_mb),
        "scan_mb": dict(scan_mb),
        "kernel_python_s": py["time to run Python workers"],
        "kernel_python_init_s": py["time to initialize Python workers"],
        "kernel_task_skew": max(skews) if skews else 0.0,
        "kernel_rows": _kernel_input_rows(log, stages),
    }


_ROW_METRICS = ("records read", "number of output rows")


def _kernel_input_rows(log: EventLog, stages: list[Stage]) -> float:
    """Rows fed into the kernel UDF: the row count of the nearest plan
    node below each ``ArrowEvalPython [extract_spans_udf]`` that has one
    (the salt exchange's ``records read``), summed over this call's tasks.
    Each plan version holds its own copy of the node, so the count is
    taken once per distinct accumulator."""
    feeder_accs = set()
    for nid, (name, simple, kids) in log.nodes.items():
        if name != "ArrowEvalPython" or "extract_spans_udf" not in simple:
            continue
        todo = list(kids)
        while todo:
            c = todo.pop(0)
            accs = [a for a, (n, met) in log.acc_node.items() if n == c and met in _ROW_METRICS]
            if accs:
                feeder_accs.update(accs)
                break
            todo.extend(log.nodes[c][2])
    return sum(t["updates"].get(a, 0.0) for st in stages for t in st.tasks for a in feeder_accs)


def execution_walls(log: EventLog, group: str) -> dict[str, float]:
    """Wall seconds per checkpoint sub-layer for one tagged call; jobs
    outside any SQL execution (schema reads) are charged to the
    execution that starts next."""
    walls: dict[str, float] = defaultdict(float)
    jobs = sorted((j for j in log.jobs.values() if j.group == group), key=lambda j: j.submit)
    seen = set()
    pending_loose = 0.0
    for j in jobs:
        if j.execution is None:
            pending_loose += (j.complete - j.submit) / 1e3
            continue
        if j.execution in seen:
            continue
        seen.add(j.execution)
        x = log.executions.get(j.execution)
        if x is None:
            continue
        layer = execution_layer(x)
        walls[layer] += (x.end - x.start) / 1e3 + pending_loose
        pending_loose = 0.0
    walls["other"] += pending_loose
    return dict(walls)


def execution_scans(log: EventLog, group: str, layer: str) -> list[dict]:
    """Scans executed by the SQL executions of ``group`` that belong to
    checkpoint sub-layer ``layer``."""
    jobs = [
        j
        for j in log.jobs.values()
        if j.group == group
        and j.execution in log.executions
        and execution_layer(log.executions[j.execution]) == layer
    ]
    return executed_scans(log, _group_stages(log, jobs))
