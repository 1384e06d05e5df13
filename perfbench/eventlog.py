"""Traced-run reader: turns a Spark event log into per-layer numbers.

PySpark stage names carry no Python call site, so operators are found by
plan node. Every SQL metric is an accumulator; the SQL-execution events
(including adaptive re-plans) map each accumulator id to its plan node,
and the task-end events say which accumulators a stage updated. A stage
is assigned to the layer of its signature node (`classify`). Stage wall
time is split among the stages running at the same moment; time inside
one of the benchmark's spans with no stage running is the driver's.
Python-node time inside a stage is split off to the layer that owns the
Python function, in proportion to its share of the stage's task time.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
ROWS = "number of output rows"
SHUFFLE_WRITTEN = "shuffle bytes written"


@dataclass
class Stage:
    sid: int
    job: int
    desc: str
    name: str
    submit: float = 0.0
    complete: float = 0.0
    attempts: int = 0
    tasks: list = field(default_factory=list)  # (run_s, ok)
    failed_tasks: int = 0
    acc: dict = field(default_factory=lambda: defaultdict(float))  # id -> sum
    gc_s: float = 0.0
    fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    shuffle_written: int = 0
    shuffle_records: int = 0
    input_bytes: int = 0
    input_records: int = 0

    @property
    def wall(self) -> float:
        return max(0.0, self.complete - self.submit)

    @property
    def task_s(self) -> float:
        return sum(t for t, _ in self.tasks)


@dataclass
class Log:
    stages: dict  # sid -> Stage
    jobs: dict  # job id -> (desc, submit, end, stage ids)
    nodes: dict  # accumulator id -> (nodeName, simpleString, metric name)

    def node_metrics(self, stage: Stage):
        """[(nodeName, simpleString, metric, value)] this stage updated."""
        out = []
        for aid, v in stage.acc.items():
            n = self.nodes.get(aid)
            if n is not None:
                out.append((*n, v))
        return out


def _walk(plan: dict, nodes: dict) -> None:
    for m in plan.get("metrics", []):
        nodes[m["accumulatorId"]] = (plan["nodeName"], plan["simpleString"], m["name"])
    for child in plan.get("children", []):
        _walk(child, nodes)


def load(path: str) -> Log:
    stages: dict[int, Stage] = {}
    jobs: dict[int, tuple] = {}
    nodes: dict[int, tuple] = {}
    stage_desc: dict[int, tuple] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
                _walk(e["sparkPlanInfo"], nodes)
            elif kind == "SparkListenerJobStart":
                desc = (e.get("Properties") or {}).get("spark.job.description") or ""
                jobs[e["Job ID"]] = [desc, e["Submission Time"] / 1e3, None, e["Stage IDs"]]
                for sid in e["Stage IDs"]:
                    stage_desc.setdefault(sid, (e["Job ID"], desc))
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]][2] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                sid = si["Stage ID"]
                job, desc = stage_desc.get(sid, (-1, ""))
                st = stages.setdefault(sid, Stage(sid, job, desc, si["Stage Name"]))
                if st.attempts == 0:
                    st.submit = si.get("Submission Time", 0) / 1e3
                st.complete = si.get("Completion Time", 0) / 1e3
                st.attempts += 1
            elif kind == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                job, desc = stage_desc.get(sid, (-1, ""))
                st = stages.setdefault(sid, Stage(sid, job, desc, ""))
                info = e["Task Info"]
                ok = e["Task End Reason"]["Reason"] == "Success"
                if not ok:
                    st.failed_tasks += 1
                m = e.get("Task Metrics") or {}
                st.tasks.append((m.get("Executor Run Time", 0) / 1e3, ok))
                st.gc_s += m.get("JVM GC Time", 0) / 1e3
                st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                st.fetch_wait_s += m.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics", {})
                st.shuffle_written += sw.get("Shuffle Bytes Written", 0)
                st.shuffle_records += sw.get("Shuffle Records Written", 0)
                st.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
                st.input_records += m.get("Input Metrics", {}).get("Records Read", 0)
                for a in info.get("Accumulables", []):
                    # SQL metric updates are logged as strings
                    try:
                        st.acc[a["ID"]] += float(a.get("Update"))
                    except (TypeError, ValueError):
                        pass
    return Log(stages, {k: tuple(v) for k, v in jobs.items()}, nodes)


def find_log(event_dir: str) -> str:
    names = [n for n in os.listdir(event_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {names}")
    return os.path.join(event_dir, names[0])


# ---- layer attribution ---------------------------------------------------

PY_LAYERS = (  # Python function in a plan node -> layer that owns it
    ("_harvest_flat", "operators.frontier.harvest"),
    ("probe_group", "operators.seen.probe"),
    ("fold(", "operators.seen.bloom_build"),
    ("merge(", "operators.seen.bloom_build"),
    ("udf_extract_text", "operators.archive_ops.extract"),
    ("udf_decode_http", "operators.archive_ops.rewrite"),
    ("udf_write_warc", "operators.archive_ops.rewrite"),
    ("parse(", "sources.warc"),
    ("udf_url_sha1", "plans.epoch.init_state"),
    ("udf_canonicalize_url", "plans.epoch.key_pages"),
)


def py_layer(simple: str) -> str | None:
    for needle, layer in PY_LAYERS:
        if needle in simple:
            return layer
    return None


def classify(log: Log, stage: Stage) -> str:
    """The layer a stage's wall time belongs to, by its signature node."""
    nm = log.node_metrics(stage)
    names = " ".join(s for _, s, _, _ in nm)
    kinds = {n for n, _, _, _ in nm}
    if "Execute InsertIntoHadoopFsRelationCommand" in names or "WriteFiles" in kinds:
        return "plans.catalog.write"
    for n, s, _, _ in nm:
        if n in ("MapInPandas", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "ArrowEvalPython"):
            layer = py_layer(s)
            if layer is not None:
                return layer
    if "LeftAnti" in names and "min(struct(depth" in names:
        return "operators.frontier.anti_join"
    if "min(struct(depth" in names:
        return "operators.frontier.dedup_within"
    if "LeftAnti" in names and "maybe_seen" in names:
        return "operators.frontier.anti_join"
    if "row_number" in names or "rn#" in names or "hashpartitioning(host" in names:
        return "operators.frontier.politeness"
    if "localCheckpoint" in stage.name:
        return "plans.epoch.checkpoint"
    if any(k.startswith("Scan parquet") for k in kinds) and "LeftAnti" not in names:
        return "sources.parquet_scan"
    if "LeftAnti" in names or "Scan ExistingRDD" in kinds:
        return "plans.epoch.checkpoint"
    return "spark.other"


def span_layers(log: Log, span: tuple) -> tuple[dict, list]:
    """Attribute the wall time of one span (label, t0, t1) to layers.
    Returns ({layer: seconds}, [stages of the span])."""
    label, t0, t1 = span
    stages = [s for s in log.stages.values() if s.desc == label and s.complete > 0]
    layers: dict[str, float] = defaultdict(float)
    # per-stage layer shares: the signature layer, minus Python-node time
    # owned by another layer
    shares = {}
    for st in stages:
        sig = classify(log, st)
        split: dict[str, float] = defaultdict(float)
        total = st.task_s
        if total > 0:
            for n, s, metric, v in log.node_metrics(st):
                if metric == PY_TIME:
                    layer = py_layer(s)
                    if layer is not None and layer != sig:
                        split[layer] += v / 1e3 / total
        py = sum(split.values())
        if py > 1.0:
            split = {k: v / py for k, v in split.items()}
            py = 1.0
        split[sig] += 1.0 - py
        shares[st.sid] = split
    # sweep from the span's start to the last stage's end: each instant
    # goes to the stages running then, split equally; instants inside the
    # span with no stage running go to the driver. A stage that runs past
    # the span (an action the benchmark did not wait for, or a job
    # labelled with the wrong span) makes the layers sum to more than
    # the span's wall.
    edges = sorted({t0, t1, *(max(s.submit, t0) for s in stages), *(max(s.complete, t0) for s in stages)})
    for a, b in zip(edges, edges[1:]):
        running = [s for s in stages if s.submit <= a and s.complete >= b]
        if running:
            for s in running:
                for layer, frac in shares[s.sid].items():
                    layers[layer] += (b - a) * frac / len(running)
        elif b <= t1:
            layers["driver"] += b - a
    return dict(layers), stages


def table(log: Log, spans: list) -> dict:
    """{"wall_s": traced wall, "layers": {layer: {wall_s, share, rows,
    bytes, wait_s}}} over the given spans. rows and bytes are what the
    layer's stages read from input or wrote to a shuffle; wait_s is
    shuffle fetch wait."""
    wall = sum(t1 - t0 for _, t0, t1 in spans)
    out: dict = defaultdict(lambda: {"wall_s": 0.0, "rows": 0, "bytes": 0, "wait_s": 0.0})
    for span in spans:
        layers, stages = span_layers(log, span)
        for layer, s in layers.items():
            out[layer]["wall_s"] += s
        for st in stages:
            layer = classify(log, st)
            out[layer]["bytes"] += st.shuffle_written + st.input_bytes
            out[layer]["wait_s"] += st.fetch_wait_s
            out[layer]["rows"] += st.shuffle_records + st.input_records
    for row in out.values():
        row["share"] = row["wall_s"] / wall if wall else 0.0
    return {"wall_s": wall, "layers": dict(out)}


def metric_sum(log: Log, stages: list, metric: str, needle: str = "") -> float:
    """Sum of one SQL metric over the given stages, for plan nodes whose
    description contains `needle`."""
    total = 0.0
    for st in stages:
        for _, s, m, v in log.node_metrics(st):
            if m == metric and needle in s:
                total += v
    return total


def span_stages(log: Log, spans: list) -> list:
    labels = {label for label, _, _ in spans}
    return [s for s in log.stages.values() if s.desc in labels]


def max_task_share(stages: list) -> float:
    """Largest task's share of its stage's task time, over stages with more
    than one task: 1/ntasks when balanced, near 1 when one task holds all."""
    best = 0.0
    for st in stages:
        if len(st.tasks) > 1 and st.task_s > 0:
            best = max(best, max(t for t, _ in st.tasks) / st.task_s)
    return best
