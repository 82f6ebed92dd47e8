"""Spans around the benchmark's calls into each layer, and the per-layer
numbers read back from the session's own Spark event log.

A span records (id, name, parent, pass, start, end) in memory. While a
span is open, every Spark job the driver submits carries its id as the
job group, so after the session stops the event log's task and SQL
metrics can be summed per span. Nothing is written until the run ends.

Layer spans are the direct children of a pass's root span and are named
after modules of redo_log_parser_spark (plus `aggregate`, the
parse_route workload's own group-by). Spans nested in a layer are its
phases (`traces.edges`, `dedup.pairs`, ...): a layer's numbers include
its phases, and a phase reports its own time.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "perfbench:"
COUNT_GROUP = GROUP_PREFIX + "count"

# one conf set turns tracing on; the log is one plain JSON-lines file
EVENT_LOG_CONFS = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

LAYERS = ("sources", "parse", "rowid", "enrich", "fanout", "aggregate",
          "schema_discovery", "traces", "xes", "dedup")
PHASES = {
    "traces": ("edges", "roots", "propagate", "assign", "collect"),
    "dedup": ("pairs", "components", "representatives"),
}
COMMON = ("self_s", "cpu_s", "core_util", "shuffle_write_bytes", "spill_bytes",
          "fetch_wait_s", "task_skew", "jobs")
SPECIFIC = {
    "sources": ("bytes_read", "rows_read"),
    "parse": ("python_run_s", "python_start_s", "arrow_bytes_out",
              "arrow_bytes_in", "rows_in", "useful_ratio"),
    "rowid": ("incarnations",),
    "fanout": ("bytes_written", "files_written", "rows_written"),
    "schema_discovery": ("driver_result_bytes",),
    "traces": ("edge_rows", "cases", "events_assigned_ratio",
               "driver_result_bytes"),
    "xes": ("doc_bytes",),
    "dedup": ("candidate_pairs", "useful_ratio", "cc_edges",
              "driver_result_bytes"),
}
PHASE_METRICS = ("self_s", "cpu_s")
RUN_METRICS = ("trace.pass_s", "trace.untraced_pass_s", "trace.overhead_ratio",
               "trace.layer_sum_ratio")

# names Spark gives the Python UDF node's SQL metrics
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def metric_names() -> list[str]:
    """Every per-layer metric, in a fixed order; each traced run reports
    all of them (0 for a layer its workload never calls)."""
    names = []
    for layer in LAYERS:
        names += [f"{layer}.{m}" for m in COMMON + SPECIFIC.get(layer, ())]
        for ph in PHASES.get(layer, ()):
            names += [f"{layer}.{ph}.{m}" for m in PHASE_METRICS]
    return names + list(RUN_METRICS)


def metric_unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if leaf.endswith("_s"):
        return "s"
    if "bytes" in leaf.split("_"):
        return "bytes"
    if leaf.endswith(("_ratio", "_util", "_skew")):
        return "ratio"
    return "count"


class Tracer:
    """Spans for one session. With `sc=None` every method is a no-op and
    the pass runs the program's own, uncut plan."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = sc is not None
        self.spans: list[dict] = []
        self.counts: dict[int, dict[str, float]] = {}
        self._stack: list[int] = []
        self._cached: list = []
        self._pending: list = []
        self._pass = -1
        self._root = None

    def _tag(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": sid, "name": name, "parent": parent,
                           "pass": self._pass, "start": time.perf_counter(),
                           "end": None})
        self._stack.append(sid)
        self._tag(f"{GROUP_PREFIX}{sid}")
        try:
            yield
        finally:
            self.spans[sid]["end"] = time.perf_counter()
            self._stack.pop()
            self._tag(f"{GROUP_PREFIX}{self._stack[-1]}" if self._stack else None)

    def cut(self, df):
        """Materialize a layer's output inside its span."""
        if self.enabled:
            df = df.cache()
            df.count()
            self._cached.append(df)
        return df

    def count(self, layer: str, name: str, fn) -> None:
        """Record a layer counter; `fn` runs after the pass is timed."""
        if self.enabled:
            self._pending.append((f"{layer}.{name}", fn))

    def begin_pass(self, pass_id: int) -> None:
        if self.enabled:
            self._pass = pass_id
            self._root = self.span("pass")
            self._root.__enter__()

    def finish(self) -> None:
        """Close the pass's root span, then evaluate its counters under a
        job group no span owns and drop the cut caches."""
        if not self.enabled or self._root is None:
            return
        self._root.__exit__(None, None, None)
        self._root = None
        self._tag(COUNT_GROUP)
        counts = self.counts.setdefault(self._pass, defaultdict(float))
        for key, fn in self._pending:
            counts[key] += fn()
        self._pending.clear()
        for df in self._cached:
            df.unpersist()
        self._cached.clear()
        self._tag(None)

    def abort(self) -> None:
        """Drop the state of a pass that raised."""
        if self.enabled:
            while self._stack:
                self.spans[self._stack.pop()]["end"] = time.perf_counter()
            self._root = None
            self._pending.clear()
            self._cached.clear()
            self._tag(None)

    def pass_wall(self, pass_id: int) -> float:
        root = next(s for s in self.spans
                    if s["pass"] == pass_id and s["parent"] is None)
        return root["end"] - root["start"]


def read_event_log(path: str) -> dict[str, dict]:
    """Sum task metrics per job group (= span) from a JSON-lines Spark
    event log. Returns {group: {metric: value, "stages": {...}}}."""
    stage_group: dict[int, str | None] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_tasks: dict[tuple, list[float]] = defaultdict(list)
    join_accs: set[int] = set()  # "number of output rows" of join nodes
    join_rows: dict[tuple, float] = defaultdict(float)

    def plan_joins(node):
        if "Join" in node.get("nodeName", ""):
            join_accs.update(m["accumulatorId"] for m in node.get("metrics", ())
                             if m.get("name") == "number of output rows")
        for child in node.get("children", ()):
            plan_joins(child)

    with open(path, encoding="utf-8") as fh:
        events = [json.loads(line) for line in fh]
    # plan updates can follow the tasks that fed their metrics
    for ev in events:
        if "sparkPlanInfo" in ev:  # SQL execution start / AQE re-plan
            plan_joins(ev["sparkPlanInfo"])
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                # a stage re-listed by a later job is skipped there:
                # its tasks belong to the job that first planned it
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            agg = out[group]
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            agg["run_s"] += m.get("Executor Run Time", 0) / 1e3
            agg["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            agg["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
            agg["result_bytes"] += m.get("Result Size", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            agg["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            agg["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            im = m.get("Input Metrics") or {}
            agg["bytes_read"] += im.get("Bytes Read", 0)
            agg["rows_read"] += im.get("Records Read", 0)
            om = m.get("Output Metrics") or {}
            agg["bytes_written"] += om.get("Bytes Written", 0)
            agg["rows_written"] += om.get("Records Written", 0)
            for acc in info.get("Accumulables", ()):
                name = acc.get("Name")
                if name in (PY_RUN, PY_START, PY_SENT, PY_RECV):
                    agg[name] += float(acc.get("Update") or 0)
                elif acc.get("ID") in join_accs:
                    join_rows[(group, acc["ID"])] += float(acc.get("Update") or 0)
            stage_tasks[(group, ev.get("Stage ID"))].append(
                info.get("Finish Time", 0) - info.get("Launch Time", 0))
    for (group, sid), times in stage_tasks.items():
        out[group].setdefault("stages", {})[sid] = times
    for (group, _), rows in join_rows.items():
        out[group]["max_join_rows"] = max(out[group]["max_join_rows"], rows)
    return out


def _task_skew(stages: dict) -> float:
    """max / median task time in the stage with the most task time."""
    if not stages:
        return 0.0
    times = max(stages.values(), key=sum)
    med = statistics.median(times)
    return max(times) / med if med > 0 else 1.0


def layer_metrics(tracer: Tracer, groups: dict[str, dict], pass_id: int,
                  cores: int) -> dict[str, float]:
    """Per-layer numbers of one traced pass."""
    spans = [s for s in tracer.spans if s["pass"] == pass_id]
    by_id = {s["id"]: s for s in spans}
    root = next(s for s in spans if s["parent"] is None)
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])

    def subtree(sid):
        ids = [sid]
        for c in children[sid]:
            ids += subtree(c)
        return ids

    def dur(s):
        return s["end"] - s["start"]

    merged: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stages: dict[str, dict] = defaultdict(dict)
    for top in children[root["id"]]:
        layer = by_id[top]["name"]
        merged[layer]["self_s"] += dur(by_id[top])
        for sid in subtree(top):
            s = by_id[sid]
            g = groups.get(f"{GROUP_PREFIX}{sid}", {})
            phase = None if sid == top else f"{layer}.{s['name']}"
            if phase:
                merged[phase]["self_s"] += dur(s) - sum(dur(by_id[c]) for c in children[sid])
                merged[phase]["cpu_s"] += g.get("cpu_s", 0.0)
                merged[phase]["max_join_rows"] = max(
                    merged[phase]["max_join_rows"], g.get("max_join_rows", 0.0))
            for k, v in g.items():
                if k == "stages":
                    stages[layer].update(v)
                elif k == "max_join_rows":
                    merged[layer][k] = max(merged[layer][k], v)
                else:
                    merged[layer][k] += v
    counts = tracer.counts.get(pass_id, {})
    out: dict[str, float] = {}
    for name in metric_names():
        if name.startswith("trace."):
            continue
        head, leaf = name.rsplit(".", 1)
        g = merged.get(head, {})
        layer = head.split(".")[0]
        if leaf in ("self_s", "cpu_s", "shuffle_write_bytes", "spill_bytes",
                    "fetch_wait_s", "jobs", "bytes_read", "rows_read",
                    "bytes_written", "rows_written"):
            v = g.get(leaf, 0.0)
        elif leaf == "core_util":
            v = g.get("run_s", 0.0) / (g["self_s"] * cores) if g.get("self_s") else 0.0
        elif leaf == "task_skew":
            v = _task_skew(stages.get(layer, {}))
        elif leaf == "driver_result_bytes":
            v = g.get("result_bytes", 0.0)
        elif leaf == "python_run_s":
            v = g.get(PY_RUN, 0.0) / 1e3  # SQL timing metrics are in ms
        elif leaf == "python_start_s":
            v = g.get(PY_START, 0.0) / 1e3
        elif leaf == "arrow_bytes_out":
            v = g.get(PY_SENT, 0.0)
        elif leaf == "arrow_bytes_in":
            v = g.get(PY_RECV, 0.0)
        elif name == "parse.useful_ratio":
            v = (counts.get("parse.clean_rows", 0.0) / counts["parse.rows_in"]
                 if counts.get("parse.rows_in") else 0.0)
        elif name == "traces.events_assigned_ratio":
            v = (counts.get("traces.assigned_rows", 0.0) / counts["traces.events_in"]
                 if counts.get("traces.events_in") else 0.0)
        elif name == "dedup.candidate_pairs":  # the pair phase's self-join
            v = merged["dedup.pairs"]["max_join_rows"]
        elif name == "dedup.useful_ratio":
            cand = merged["dedup.pairs"]["max_join_rows"]
            v = counts.get("dedup.pairs", 0.0) / cand if cand else 0.0
        elif name == "dedup.cc_edges":
            v = 2 * counts.get("dedup.pairs", 0.0)
        else:
            v = counts.get(name, 0.0)
        out[name] = float(v)
    out["trace.pass_s"] = dur(root)
    out["trace.layer_sum_ratio"] = (
        sum(out[f"{layer}.self_s"] for layer in LAYERS) / dur(root))
    return out
