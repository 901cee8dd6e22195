"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded around the benchmark's own calls into each
``spandex_spark`` layer (name, start, end, parent span, run id) and kept in
memory.  Every public call runs under a Spark job group; once the session
has stopped, ``layer_metrics`` reads Spark's JSON event log and attributes
jobs, stages, task metrics and SQL-plan metrics to the call whose job group
(or, for jobs a layer starts from its own threads, whose time window) they
fall in.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager

# the cell equi-join of the two-phase spatial join: keyed on a cell column
CELL_JOIN = re.compile(r"Join \[_?cell#")
PY_NODE = re.compile(r"^(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow)")
NARROW = re.compile(r"^(Filter|Project|ArrowEvalPython|BatchEvalPython|Union|"
                    r"WholeStageCodegen|InputAdapter|ColumnarToRow)")

OPS = ("operators.tag.tag_points", "operators.knn.knn_join",
       "operators.tag.tag", "operators.overlay.proportion_overlap",
       "operators.zonal.zonal_stats", "operators.dedup.minhash_lsh_pairs")
OP_METRICS = (("construct_s", "s"), ("exec_s", "s"), ("driver_s", "s"),
              ("jobs", "count"), ("task_cpu_s", "s"),
              ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
              ("peak_exec_mem_bytes", "bytes"), ("python_bytes_sent", "bytes"),
              ("python_run_s", "s"), ("candidate_rows", "rows"),
              ("refine_survival", "ratio"))
# a layer fused into another call's action: attributed by plan node
NODE_OPS = ("operators.knn.nearest_feature_column",)
NODE_METRICS = (("construct_s", "s"), ("python_bytes_sent", "bytes"),
                ("python_run_s", "s"))


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit).  A workload reports 0 for a
    layer it does not call."""
    out = [("session.get_spark_s", "s"), ("sources.grids.inputs_s", "s"),
           ("operators.tag.PolygonIndex_s", "s"),
           ("operators.knn.nearest_feature_column_s", "s"),
           ("functions.cells_sql.cell_of_expr_s", "s")]
    out += [(f"{op}.{m}", u) for op in OPS for m, u in OP_METRICS]
    out += [(f"{op}.{m}", u) for op in NODE_OPS for m, u in NODE_METRICS]
    out += [("geom.points_in_polygon.ns_per_pt", "ns"),
            ("geom.haversine_m.ns_per_pair", "ns"),
            ("geom.rings_intersection_area.us_per_pair", "us"),
            ("trace.op_s_p50", "s"), ("trace.untraced_op_s_p50", "s"),
            ("trace.overhead_s", "s"), ("trace.op_self_s", "s")]
    return out


class Tracer:
    """In-memory spans; ``span`` also sets the Spark job group when asked."""

    def __init__(self, sc, run_id: str):
        self.sc, self.run_id = sc, run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent, "run_id": self.run_id,
               "group": group, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if group:
            self.sc.setJobGroup(group, name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._stack.pop()

    def self_time(self, idx: int) -> float:
        """Span duration minus the part its child spans cover."""
        s = self.spans[idx]
        kids = sum(c["end"] - c["start"] for c in self.spans
                   if c["parent"] == idx)
        return s["end"] - s["start"] - kids


# ------------------------------------------------------------ event log

class EventLog:
    """The parts of a Spark JSON event log the per-layer metrics need."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.plans: dict[int, dict] = {}
        self.accum: dict[int, float] = {}
        self.task_peak: dict[int, int] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    eid = props.get("spark.sql.execution.id")
                    self.jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "exec_id": int(eid) if eid is not None else None,
                        "stages": ev["Stage IDs"],
                        "start": ev["Submission Time"] / 1e3, "end": None}
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in self.jobs:
                        self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sid = ev["Stage ID"]
                    self.task_peak[sid] = max(self.task_peak.get(sid, 0),
                                              m.get("Peak Execution Memory", 0))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = self.stages.setdefault(info["Stage ID"], {})
                    for acc in info.get("Accumulables", []):
                        try:
                            val = float(acc["Value"])
                        except (TypeError, ValueError):
                            continue
                        name = acc.get("Name", "")
                        if name.startswith("internal.metrics."):
                            st[name[len("internal.metrics."):]] = val
                        else:
                            # SQL metrics report the accumulator's running
                            # total: the latest (largest) value wins
                            self.accum[acc["ID"]] = max(
                                self.accum.get(acc["ID"], 0.0), val)
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                        "SQLAdaptiveExecutionUpdate"):
                    # the last adaptive update holds the final plan
                    self.plans[ev["executionId"]] = ev["sparkPlanInfo"]


def _walk(node, parents=()):
    yield node, parents
    # a cached relation's plan ran when it was cached, not in this action
    if node["nodeName"].startswith("InMemoryTableScan"):
        return
    for child in node.get("children", []):
        yield from _walk(child, parents + (node,))


def _metric(node, name: str) -> tuple[float, str] | None:
    for m in node.get("metrics", []):
        if m["name"] == name:
            return m["accumulatorId"], m["metricType"]
    return None


def _value(log: EventLog, node, name: str, seconds: bool = False) -> float:
    found = _metric(node, name)
    if found is None:
        return 0.0
    val = log.accum.get(found[0], 0.0)
    if seconds:
        val /= 1e9 if found[1] == "nsTiming" else 1e3
    return val


def _plan_metrics(log: EventLog, exec_ids, node_layers: dict) -> dict:
    """Candidate/refine rows and Python-crossing metrics from SQL plans.
    Python nodes matching a ``node_layers`` regex are reported under that
    layer instead of the call's own."""
    out = {"candidate_rows": 0.0, "refine_rows": 0.0}
    per_layer: dict[str, dict] = {}
    for eid in exec_ids:
        plan = log.plans.get(eid)
        if plan is None:
            continue
        for node, parents in _walk(plan):
            text = node.get("simpleString", "")
            if PY_NODE.match(node["nodeName"]):
                layer = next((lay for lay, pat in node_layers.items()
                              if re.search(pat, text)), None)
                dst = per_layer.setdefault(layer, {"python_bytes_sent": 0.0,
                                                   "python_run_s": 0.0})
                dst["python_bytes_sent"] += _value(
                    log, node, "data sent to Python workers")
                dst["python_run_s"] += _value(
                    log, node, "time to run Python workers", seconds=True)
            if "Join" in node["nodeName"] and CELL_JOIN.search(text):
                rows = _value(log, node, "number of output rows")
                out["candidate_rows"] += rows
                # the refine: the topmost Filter in the narrow chain above
                # the join; a refine fused into the join condition leaves
                # the join output as the refined rows
                refined = rows
                for p in reversed(parents):
                    if not NARROW.match(p["nodeName"]):
                        break
                    if p["nodeName"] == "Filter":
                        refined = _value(log, p, "number of output rows")
                out["refine_rows"] += refined
    return out, per_layer


def layer_metrics(log: EventLog, calls: list[dict]) -> list[dict]:
    """Per-call metrics.  Each ``calls`` entry has ``layer``, ``groups``
    (job group ids), ``windows`` ([(start, end)] epoch seconds of its
    construct and exec spans), ``construct_s``, ``exec_window`` and
    ``node_layers``.  Returns one dict per call plus one per node layer."""
    claimed = {}
    for c_idx, c in enumerate(calls):
        for jid, job in log.jobs.items():
            if job["group"] in c["groups"] or (
                    job["group"] is None and any(
                        s <= job["start"] <= e for s, e in c["windows"])):
                claimed[jid] = c_idx
    out = []
    for c_idx, c in enumerate(calls):
        jobs = [log.jobs[j] for j, ci in claimed.items() if ci == c_idx]
        stages = {s for j in jobs for s in j["stages"] if s in log.stages}
        st = [log.stages[s] for s in stages]
        xs, xe = c["exec_window"]
        covered = _union_len([(max(j["start"], xs), min(j["end"] or xe, xe))
                              for j in jobs if j["start"] < xe
                              and (j["end"] or xe) > xs])
        plan, py = _plan_metrics(log, {j["exec_id"] for j in jobs
                                       if j["exec_id"] is not None},
                                 c["node_layers"])
        own_py = py.get(None, {"python_bytes_sent": 0.0, "python_run_s": 0.0})
        cand = plan["candidate_rows"]
        out.append({
            "layer": c["layer"],
            "construct_s": c["construct_s"],
            "exec_s": xe - xs,
            "driver_s": max(0.0, (xe - xs) - covered),
            "jobs": len(jobs),
            "task_cpu_s": sum(s.get("executorCpuTime", 0) for s in st) / 1e9,
            "shuffle_write_bytes": sum(s.get("shuffle.write.bytesWritten", 0)
                                       for s in st),
            "spill_bytes": sum(s.get("memoryBytesSpilled", 0)
                               + s.get("diskBytesSpilled", 0) for s in st),
            "peak_exec_mem_bytes": max([log.task_peak.get(s, 0)
                                        for s in stages] or [0]),
            "candidate_rows": cand,
            "refine_survival": plan["refine_rows"] / cand if cand else 0.0,
            **own_py,
        })
        for layer in c["node_layers"]:
            out.append({"layer": layer,
                        "construct_s": c["node_construct_s"].get(layer, 0.0),
                        **py.get(layer, {"python_bytes_sent": 0.0,
                                         "python_run_s": 0.0})})
    return out


def _union_len(intervals) -> float:
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


def find_event_log(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {files}")
    return files[0]


# ------------------------------------------------------------ geom kernels

def kernel_metrics(seed: int, reps: int = 7) -> dict:
    """Median time of each ``geom`` kernel on fixed seeded numpy arrays: the
    compute half of an Arrow crossing, without the crossing."""
    import numpy as np
    from spandex_spark import geom

    rng = np.random.default_rng([seed, 99])
    n_pts = 200_000
    px, py = rng.uniform(-1, 1, n_pts), rng.uniform(-1, 1, n_pts)
    ang = np.sort(rng.uniform(0, 2 * np.pi, 16))
    rad = rng.uniform(0.5, 1.0, 16)
    rx, ry = rad * np.cos(ang), rad * np.sin(ang)
    qlon, qlat = rng.uniform(-10, 10, 20_000), rng.uniform(-10, 10, 20_000)
    flon, flat = rng.uniform(-8, 8, 32), rng.uniform(-8, 8, 32)
    quads = []
    for _ in range(500):
        x0, y0 = rng.uniform(-10, 10, 2)
        jx, jy = rng.uniform(-0.05, 0.05, 4), rng.uniform(-0.05, 0.05, 4)
        a = (np.array([x0, x0 + .3, x0 + .3, x0]) + jx,
             np.array([y0, y0, y0 + .3, y0 + .3]) + jy)
        zx, zy = np.floor(x0), np.floor(y0)
        b = (np.array([zx, zx + 1, zx + 1, zx]), np.array([zy, zy, zy + 1, zy + 1]))
        quads.append((a, b))

    def best(fn):
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return sorted(times)[len(times) // 2]

    pip = best(lambda: geom.points_in_polygon(px, py, rx, ry))
    hav = best(lambda: geom.haversine_m(qlon[:, None], qlat[:, None],
                                        flon[None, :], flat[None, :]))
    ria = best(lambda: [geom.rings_intersection_area(a[0], a[1], None,
                                                     b[0], b[1], None)
                        for a, b in quads])
    return {"geom.points_in_polygon.ns_per_pt": pip / n_pts * 1e9,
            "geom.haversine_m.ns_per_pair": hav / (qlon.size * flon.size) * 1e9,
            "geom.rings_intersection_area.us_per_pair": ria / len(quads) * 1e6}
