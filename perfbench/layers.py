"""Per-layer attribution read from Spark's own status store.

Nothing here touches the program: after a traced unit the benchmark reads
the SQL executions (``planGraph`` + ``executionMetrics``), the stage list
and the job list of the live SparkContext, serialized JVM-side to JSON
with the Jackson mapper Spark already ships. This works with
``spark.ui.enabled=false``.

Attribution works per stage. Every SQL metric whose per-task summary is
non-zero names the stage of its largest task (``(stage 12.0: task 40)``);
that ties plan nodes to stages. Each node gets a layer label from its
name and description (UDF name, join type and keys, window spec, write
path); a stage's task time goes to the highest-precedence label among its
nodes, else to the label of its execution's kind (the write path or the
collect site), else to ``other``.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

_STAGE_TAG = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")
_WRITE_PATH = re.compile(r"InsertIntoHadoopFsRelationCommand file:(\S+?),")
_SCALE = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "ArrowWindowPython", "PythonMapInArrow",
)
#: a stage goes to the first of these layers any of its nodes carries
PRECEDENCE = (
    "canon", "rules", "seen.filter", "seen.join", "politeness", "scheduler.seq",
    "scheduler.dedup", "collector", "scheduler.fetch", "stream",
    "scheduler.ckpt", "sinks",
)
LAYERS = PRECEDENCE + ("other",)


def metric_total(text: str | None) -> float:
    """Numeric total of one formatted SQL metric value: ``"1,000"``,
    ``"6.5 KiB"``, ``"75 ms"``, or the two-line per-task summary whose
    second line starts with the total."""
    if not text:
        return 0.0
    line = text.rsplit("\n", 1)[-1].split(" (", 1)[0].split()
    if not line:
        return 0.0
    try:
        num = float(line[0].replace(",", ""))
    except ValueError:
        return 0.0
    return num * _SCALE.get(line[1], 1.0) if len(line) > 1 else num


class StatusStore:
    """JSON views of the live status store (AppStatusStore + SQLAppStatusStore)."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        self._core = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._none = jvm.java.util.ArrayList()
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def stages(self) -> list[dict]:
        return self._json(
            self._core.stageList(self._none, False, False, self._no_quantiles, self._none)
        )

    def jobs(self) -> list[dict]:
        return self._json(self._core.jobsList(self._none))

    def executions(self) -> list[dict]:
        out = self._json(self._sql.executionsList())
        for e in out:
            e.pop("physicalPlanDescription", None)
            e.pop("details", None)
        return out

    def plan(self, execution_id: int) -> tuple[dict, dict]:
        graph = self._json(self._sql.planGraph(execution_id))
        values = self._json(self._sql.executionMetrics(execution_id))
        return graph, values


@dataclass
class Node:
    id: int
    name: str
    desc: str
    metrics: dict[str, float]
    stages: set[int]
    children: list[int] = field(default_factory=list)
    parent: int | None = None
    label: str | None = None


def _flatten(graph: dict, values: dict) -> dict[int, Node]:
    nodes: dict[int, Node] = {}

    def add(raw: dict, cluster_stages: set[int] | None) -> None:
        metrics, stages = {}, set()
        for m in raw.get("metrics", []):
            text = values.get(str(m["accumulatorId"]))
            metrics[m["name"]] = metric_total(text)
            if text:
                stages.update(int(s) for s in _STAGE_TAG.findall(text))
        if not stages and cluster_stages:
            stages = set(cluster_stages)
        nodes[raw["id"]] = Node(raw["id"], raw["name"], raw.get("desc", ""), metrics, stages)
        for child in raw.get("nodes", []):
            add(child, stages)

    for raw in graph.get("nodes", []):
        add(raw, None)
    for e in graph.get("edges", []):
        child, parent = nodes.get(e["fromId"]), nodes.get(e["toId"])
        if child is not None and parent is not None:
            parent.children.append(child.id)
            child.parent = parent.id
    # nodes without a stage tag inherit it along the pipeline, never across
    # a shuffle or broadcast boundary
    changed = True
    while changed:
        changed = False
        for n in nodes.values():
            if n.stages or "Exchange" in n.name or n.name == "InMemoryTableScan":
                continue
            near = [nodes[c] for c in n.children] + (
                [nodes[n.parent]] if n.parent is not None else []
            )
            for m in near:
                if m.stages and "Exchange" not in m.name:
                    n.stages = set(m.stages)
                    changed = True
                    break
    return nodes


def _tag_result_stage(nodes: dict[int, Node], stage_ids: list[int]) -> None:
    """Nodes of the root pipeline that carry no stage tag (single-task
    stages report metrics without one) ran in the execution's result
    stage, its last; shuffle and broadcast boundaries end the pipeline."""
    if not stage_ids:
        return
    last = max(int(s) for s in stage_ids)
    todo = [n.id for n in nodes.values() if n.parent is None]
    while todo:
        n = nodes[todo.pop()]
        if "Exchange" in n.name or n.name == "InMemoryTableScan":
            continue
        if not n.stages:
            n.stages = {last}
        todo.extend(n.children)


def _is_seen_scan(n: Node) -> bool:
    return n.name.startswith("Scan parquet") and bool(
        re.search(r"/(round=-?\d+/seen(_compacted)?|seen/batch=\d+)\b", n.desc)
    )


def _subtree(nodes: dict[int, Node], root: Node, cross_exchange: bool) -> list[Node]:
    out, todo = [], list(root.children)
    while todo:
        n = nodes[todo.pop()]
        out.append(n)
        if cross_exchange or "Exchange" not in n.name:
            todo.extend(n.children)
    return out


def _exec_kind(execution: dict, nodes: dict[int, Node], kind: str) -> tuple[str, str]:
    """(default layer, write path or "") of one SQL execution."""
    for n in nodes.values():
        m = _WRITE_PATH.search(n.desc)
        if not m:
            continue
        path = m.group(1)
        if re.search(r", (CSV|ORC),", n.desc):
            return "sinks", path
        if kind == "stream":
            return "stream", path
        if path.rstrip("/").endswith("/bloom"):
            return "seen.filter", path
        return "scheduler.ckpt", path
    desc = execution.get("description") or ""
    if "frontier/seen.py" in desc or "frontier/cuckoo.py" in desc:
        return "seen.filter", ""
    if "frontier/politeness.py" in desc:
        return "politeness", ""
    if "scheduler.py" in desc:
        return "scheduler.seq", ""
    if kind == "stream":
        return "stream", ""
    return "other", ""


def _label(n: Node, nodes: dict[int, Node], workload_kind: str, kind: str, path: str) -> str | None:
    d = n.desc
    if n.name in PYTHON_NODES:
        if "_canon_udf(" in d or "emit(" in d:
            return "canon"
        if "fold(" in d or "check(" in d:
            return "seen.filter"
        return "rules"
    if path.endswith("seen_compacted"):
        return None  # compaction: the whole execution is checkpoint work
    if "_fu_url_" in d:
        return "collector"  # the follow-up fetch joins and their build sides
    if "Join" in n.name:
        if "LeftAnti" in d and (
            "maybe_seen" in d or any(_is_seen_scan(c) for c in _subtree(nodes, n, True))
        ):
            return "seen.join"
        if re.search(r"Join \[host#\d+\], \[host#\d+\]", d):
            return "politeness"
        if re.search(r"Join \[url_canon#\d+\], \[url_canon#\d+\], (Inner|LeftAnti)", d):
            if kind == "scheduler.ckpt" and path.endswith("/frontier"):
                return "politeness"  # deferred = frontier minus scheduled
            if kind == "sinks":
                return "collector"  # collector.fetch_join ahead of the sink write
            return {"crawl": "scheduler.fetch", "stream": "stream"}[workload_kind]
    if _is_seen_scan(n):
        return "seen.join"
    if n.name.startswith("Window") and re.search(r"(windowspecdefinition\(host#|WindowGroupLimit \[host#)", d):
        return "politeness"
    if "disallow_prefixes" in d:
        return "politeness"
    if re.search(r"rangepartitioning\(first_occ_a|windowspecdefinition\(_pid|keys=\[_pid", d):
        return "scheduler.seq"
    if re.search(r"min\(struct\(first_occ_a", d):
        return "scheduler.dedup"
    return None


@dataclass
class ExecView:
    execution: dict
    nodes: dict[int, Node]
    kind: str
    path: str


def read_unit(store: StatusStore, t0_ms: float, t1_ms: float, workload_kind: str) -> dict:
    """Status-store view of everything submitted in ``[t0_ms, t1_ms]`` by a
    unit of a ``"crawl"`` or ``"stream"`` workload."""
    execs = []
    for e in store.executions():
        if not (t0_ms <= e["submissionTime"] <= t1_ms):
            continue
        graph, values = store.plan(e["executionId"])
        nodes = _flatten(graph, values)
        _tag_result_stage(nodes, e.get("stages") or [])
        kind, path = _exec_kind(e, nodes, workload_kind)
        for n in nodes.values():
            n.label = _label(n, nodes, workload_kind, kind, path)
        execs.append(ExecView(e, nodes, kind, path))
    stages = [
        s for s in store.stages()
        if s.get("submissionTime") and t0_ms <= s["submissionTime"] <= t1_ms
        and s.get("status") != "SKIPPED"
    ]
    jobs = [j for j in store.jobs() if t0_ms <= (j.get("submissionTime") or 0) <= t1_ms]
    return {"execs": execs, "stages": stages, "jobs": jobs}


def attribute(view: dict) -> dict[int, dict[str, float]]:
    """stage id → {layer: share of the stage's task time}. A stage with
    Python nodes is split between their layers by Python time; any other
    stage goes whole to its highest-precedence layer."""
    stage_labels: dict[int, set[str]] = {}
    stage_py: dict[int, dict[str, float]] = {}
    stage_kind: dict[int, str] = {}
    for ev in view["execs"]:
        for sid in ev.execution.get("stages") or []:
            stage_kind[int(sid)] = ev.kind
        for n in ev.nodes.values():
            if not n.label:
                continue
            for sid in n.stages:
                stage_labels.setdefault(sid, set()).add(n.label)
            if n.name in PYTHON_NODES and len(n.stages) == 1:
                py = stage_py.setdefault(min(n.stages), {})
                py[n.label] = py.get(n.label, 0.0) + n.metrics.get("time to run Python workers", 0.0)
    out = {}
    for s in view["stages"]:
        sid = s["stageId"]
        py = {k: v for k, v in stage_py.get(sid, {}).items() if v > 0}
        if py:
            total = sum(py.values())
            out[sid] = {k: v / total for k, v in py.items()}
            continue
        labels = stage_labels.get(sid, set())
        out[sid] = {next((l for l in PRECEDENCE if l in labels), stage_kind.get(sid, "other")): 1.0}
    return out


def _rows(n: Node) -> float:
    return n.metrics.get("number of output rows", 0.0)


def _rows_into(nodes: dict[int, Node], n: Node) -> float:
    todo = list(n.children)
    while todo:
        c = nodes[todo.pop(0)]
        if "number of output rows" in c.metrics:
            return _rows(c)
        todo.extend(c.children)
    return 0.0


def layer_metrics(view: dict, round_of, wall_s: float, cores: int) -> dict[str, float]:
    """Per-layer counters and task times of one unit.

    ``round_of(ms) -> int`` maps a submission time to its round (-1 for the
    seed phase), for the per-round figures."""
    shares = attribute(view)
    stages = view["stages"]
    task = {l: 0.0 for l in LAYERS}
    for s in stages:
        for layer, share in shares[s["stageId"]].items():
            task[layer] += share * s["executorRunTime"] / 1000.0
    total = sum(task.values())
    m: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        m[key] = m.get(key, 0.0) + v

    for key in (
        "canon.python_task_s", "canon.urls_in", "canon.outlinks_out",
        "seen.candidates_in", "seen.fresh_out", "seen.side_rows_scanned",
        "seen.side_shuffle_bytes", "seen.filter_bytes_written",
        "politeness.rows_in", "politeness.scheduled",
        "scheduler.dedup_in", "scheduler.dedup_out", "scheduler.dedup_shuffle_bytes",
        "scheduler.compaction_s", "scheduler.ckpt_bytes_written", "scheduler.ckpt_files_written",
        "rules.python_task_s", "rules.pages_in",
        "collector.followup_shuffle_bytes", "sinks.bytes_written",
    ):
        m[key] = 0.0
    window_rows: dict = {}
    for ev in view["execs"]:
        nodes = ev.nodes
        rules_rows = 0.0
        for n in nodes.values():
            py_run = n.metrics.get("time to run Python workers", 0.0)
            if n.label == "canon":
                add("canon.python_task_s", py_run)
                if n.name == "MapInArrow":
                    add("canon.outlinks_out", _rows(n))
                    if ev.kind != "stream":  # the stream dedups in its own module
                        add("scheduler.dedup_in", _rows(n))
                else:
                    add("canon.urls_in", _rows(n))
            elif n.label == "rules" and n.name in PYTHON_NODES:
                add("rules.python_task_s", py_run)
                rules_rows = max(rules_rows, _rows(n))  # every field UDF sees every page
            if n.label == "seen.join" and "Join" in n.name:
                add("seen.fresh_out", _rows(n))
            if _is_seen_scan(n) and not ev.path.endswith("seen_compacted"):
                add("seen.side_rows_scanned", _rows(n))
            if "Exchange" in n.name:
                moved = n.metrics.get("shuffle bytes written", 0.0) or n.metrics.get("data size", 0.0)
                below = _subtree(nodes, n, False)
                if any(_is_seen_scan(c) for c in below) and not ev.path.endswith("seen_compacted"):
                    add("seen.side_shuffle_bytes", moved)
                if any(re.search(r"partial_min\(struct\(first_occ_a", c.desc) for c in below):
                    add("scheduler.dedup_shuffle_bytes", moved)
                if n.parent is not None and "_fu_url_" in nodes[n.parent].desc:
                    add("collector.followup_shuffle_bytes", moved)
            if re.search(r"(^|[^_])min\(struct\((first_)?occ_a", n.desc) and "partial_min" not in n.desc:
                # the in-batch dedup's output is what the seen check gets
                add("seen.candidates_in", _rows(n))
                if "first_occ_a" in n.desc:
                    add("scheduler.dedup_out", _rows(n))
            if n.name == "WindowGroupLimit" and n.parent is not None and "Exchange" in nodes[n.parent].name:
                # the window may run twice per round (scheduled, then deferred):
                # count it once per round, or per micro-batch for the stream
                batch = re.search(r"batch=(\d+)", ev.path)
                key = f"b{batch.group(1)}" if batch else round_of(ev.execution["submissionTime"])
                window_rows[key] = max(window_rows.get(key, 0.0), _rows_into(nodes, n))
            if n.name.startswith("Execute InsertInto"):
                written = n.metrics.get("written output", 0.0)
                if ev.kind == "seen.filter":
                    add("seen.filter_bytes_written", written)
                elif ev.kind == "scheduler.ckpt":
                    add("scheduler.ckpt_bytes_written", written)
                    add("scheduler.ckpt_files_written", n.metrics.get("number of written files", 0.0))
                elif ev.kind == "sinks":
                    add("sinks.bytes_written", written)
                if re.search(r"/schedule(/batch=\d+)?$", ev.path):
                    add("politeness.scheduled", _rows(n))
        add("rules.pages_in", rules_rows)
        if ev.path.endswith("seen_compacted"):
            e = ev.execution
            add("scheduler.compaction_s", ((e.get("completionTime") or e["submissionTime"]) - e["submissionTime"]) / 1000.0)
    m["politeness.rows_in"] = sum(window_rows.values())
    m["politeness.deferred"] = max(0.0, m["politeness.rows_in"] - m["politeness.scheduled"])

    m["canon.task_s"] = task["canon"]
    m["canon.task_share"] = task["canon"] / total if total else 0.0
    m["seen.join_task_s"] = task["seen.join"]
    m["seen.filter_task_s"] = task["seen.filter"]
    m["politeness.task_s"] = task["politeness"]
    m["scheduler.seq_task_s"] = task["scheduler.seq"]
    m["scheduler.dedup_task_s"] = task["scheduler.dedup"]
    m["scheduler.fetch_task_s"] = task["scheduler.fetch"]
    m["scheduler.ckpt_write_task_s"] = task["scheduler.ckpt"]
    m["rules.task_s"] = task["rules"]
    m["collector.task_s"] = task["collector"]
    m["sinks.write_task_s"] = task["sinks"]
    m["stream.task_s"] = task["stream"]
    m["other.task_s"] = task["other"]
    m["other.task_share"] = task["other"] / total if total else 0.0

    m["spark.task_s_total"] = total
    m["spark.gc_s"] = sum(s.get("jvmGcTime", 0) for s in stages) / 1000.0
    m["spark.spill_bytes"] = float(sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages))
    m["spark.shuffle_bytes"] = float(sum(s.get("shuffleWriteBytes", 0) for s in stages))
    m["spark.tasks_failed"] = float(sum(s.get("numFailedTasks", 0) for s in stages))
    m["spark.busy_frac"] = total / (wall_s * cores) if wall_s > 0 else 0.0
    m["spark.jobs"] = float(len(view["jobs"]))
    m["spark.stages"] = float(len(stages))
    return m


def job_rounds(view: dict, round_of) -> dict[int, list[tuple[float, float]]]:
    """round → [(submit_ms, complete_ms)] of its jobs."""
    out: dict[int, list[tuple[float, float]]] = {}
    for j in view["jobs"]:
        t0 = j["submissionTime"]
        t1 = j.get("completionTime") or t0
        out.setdefault(round_of(t0), []).append((t0, t1))
    return out


def covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    cov, cur = 0.0, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur is None or a > cur[1]:
            if cur:
                cov += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur:
        cov += cur[1] - cur[0]
    return cov


def spans(view: dict, shares: dict[int, dict[str, float]], round_of, unit_span: dict) -> list[dict]:
    """unit → round → SQL execution → plan node spans of one traced unit."""
    out = []
    for ev in view["execs"]:
        e = ev.execution
        rnd = round_of(e["submissionTime"])
        espan = {
            "kind": "execution",
            "id": f"{unit_span['id']}/r{rnd}/e{e['executionId']}",
            "parent": f"{unit_span['id']}/r{rnd}",
            "start_ms": e["submissionTime"],
            "end_ms": e.get("completionTime") or e["submissionTime"],
            "layer": ev.kind,
            "write_path": ev.path,
            "task_s": sum(
                s["executorRunTime"] / 1000.0
                for s in view["stages"]
                if s["stageId"] in set(e.get("stages") or [])
            ),
        }
        out.append(espan)
        for n in ev.nodes.values():
            if not n.stages or not n.metrics:
                continue
            out.append({
                "kind": "node",
                "id": f"{espan['id']}/n{n.id}",
                "parent": espan["id"],
                "name": n.name,
                "layer": n.label or (max(shares[min(n.stages)], key=shares[min(n.stages)].get)
                                     if n.stages and min(n.stages) in shares else None),
                "stages": sorted(n.stages),
                "metrics": {k: v for k, v in n.metrics.items() if v},
            })
    return out
