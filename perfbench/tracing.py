"""Traced runs: spans around the benchmark's calls into each layer, Spark's
job / stage / SQL plan-node metrics from its status stores, and driver-side
probes of the kernels on each op's own inputs.

Nothing here edits the engine: the tracer swaps the public functions of
``operators``, ``sources.icetable`` and ``sql_frontend`` for timing wrappers
while a traced pass runs and puts the originals back afterwards.
"""

from __future__ import annotations

import contextlib
import functools
import html
import importlib
import re
import statistics
import time

import numpy as np
from pyspark.sql import SparkSession

# (module, attribute, layer) of every wrapped public function.  Both the
# package attribute and the defining module's global are swapped, so calls
# through either name are seen.
WRAPPED = [
    ("sedona_db_spark.operators", "spatial_join", "operators.spatial_join"),
    ("sedona_db_spark.operators.spatial_join", "spatial_join",
     "operators.spatial_join"),
    ("sedona_db_spark.operators", "knn_join", "operators.knn"),
    ("sedona_db_spark.operators.knn", "knn_join", "operators.knn"),
    ("sedona_db_spark.sources.icetable", "append", "sources.icetable.append"),
    ("sedona_db_spark.sql_frontend", "sql", "sql_frontend.sql"),
]

_NODE = re.compile(r'\n\s*(\d+) \[id="node\d+" labelType="html" '
                   r'label="(.*?)" tooltip="(.*?)"\];')
_EDGE = re.compile(r'\n\s*(\d+)->(\d+);')
_SIZE = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
         "TiB": 2 ** 40}


def _metric_value(text: str) -> float:
    """First figure of a formatted SQL metric: '1,234', '4.7 KiB', '12 ms'."""
    parts = text.strip().split()
    num = float(parts[0].replace(",", ""))
    if len(parts) > 1 and parts[1] in _SIZE:
        num *= _SIZE[parts[1]]
    return num


def parse_plan_dot(dot: str) -> list[dict]:
    """Nodes of a SparkPlanGraph DOT dump: name, description, metrics and
    the ids of the nodes feeding it."""
    inputs: dict[int, list[int]] = {}
    for m in _EDGE.finditer(dot):
        inputs.setdefault(int(m.group(2)), []).append(int(m.group(1)))
    nodes = []
    for m in _NODE.finditer(dot):
        lines = html.unescape(m.group(2)).split("<br>")
        name = re.sub(r"</?b>", "", next(x for x in lines if "<b>" in x))
        metrics, k = {}, 0
        body = [x for x in lines if x and "<b>" not in x]
        while k < len(body):
            line = body[k]
            if line.endswith("total (min, med, max (stageId: taskId))"):
                key = line[:-len(" total (min, med, max (stageId: taskId))")]
                if k + 1 < len(body):
                    metrics[key] = _metric_value(body[k + 1])
                k += 2
                continue
            if ": " in line:
                key, val = line.split(": ", 1)
                try:
                    metrics[key] = _metric_value(val)
                except ValueError:
                    pass
            k += 1
        nid = int(m.group(1))
        nodes.append({"id": nid, "name": name,
                      "desc": m.group(3).replace('\\"', '"'),
                      "metrics": metrics, "inputs": inputs.get(nid, [])})
    return nodes


def _ms(opt) -> float | None:
    """Epoch seconds of a Scala Option[java.util.Date], or None."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Spans in memory, written out once at the end of the run.  A span is
    {id, op, parent, name, start, end, attrs}; every span of one op shares
    the op's id."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op: int | None = None
        self._saved: list = []
        self._exec_before = 0

    # -- spans --------------------------------------------------------------
    def _open(self, name: str, **attrs) -> dict:
        span = {"id": len(self.spans), "op": self._op,
                "parent": self._stack[-1]["id"] if self._stack else None,
                "name": name, "start": time.time(), "end": None,
                "attrs": attrs}
        self.spans.append(span)
        self._stack.append(span)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack.remove(span)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self._open(name, **attrs)
        try:
            yield s
        finally:
            self._close(s)

    # -- wrappers -----------------------------------------------------------
    def install(self) -> None:
        for mod_name, attr, layer in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, layer))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved.clear()

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)
        return wrapper

    # -- ops ----------------------------------------------------------------
    def begin_op(self, op_index: int, name: str) -> dict:
        """Open the op span; Spark jobs submitted until ``end_timed`` are
        the op's (its check runs after, outside the job group)."""
        self._op = op_index
        self.sc.setJobGroup(f"perfbench-op-{op_index}", name)
        self._exec_before = self._sql.executionsCount()
        return self._open(f"op:{name}")

    def end_timed(self, span: dict) -> None:
        span["attrs"]["timed_end"] = time.time()
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def end_op(self, span: dict) -> None:
        """Close the op span and attach Spark's view of its timed part: job
        and stage spans as children of the innermost span that submitted
        them, plus the SQL plan-node metrics of its executions."""
        self._close(span)
        self._op_spark(span)
        self._op = None

    def _op_spark(self, op_span: dict) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        group = f"perfbench-op-{op_span['op']}"
        mine = [s for s in self.spans if s["op"] == op_span["op"]]
        stats = {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0,
                 "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
                 "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                 "spill_bytes": 0}
        stage_iv = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            job = self._store.job(jid)
            start = _ms(job.submissionTime())
            end = _ms(job.completionTime()) or op_span["attrs"]["timed_end"]
            parent = _innermost(mine, start) or op_span
            jspan = self._child(op_span, parent, f"job:{jid}", start, end,
                                {"tasks": job.numTasks(),
                                 "failed_tasks": job.numFailedTasks()})
            stats["jobs"] += 1
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                sit = self._store.stageData(sid, False, None, False,
                                            None).iterator()
                while sit.hasNext():
                    st = sit.next()
                    s0, s1 = _ms(st.submissionTime()), _ms(st.completionTime())
                    if s0 is None or s1 is None:
                        continue           # skipped: its output was reused
                    stats["stages"] += 1
                    stats["tasks"] += st.numTasks()
                    stats["tasks_failed"] += st.numFailedTasks()
                    stats["executor_run_s"] += st.executorRunTime() / 1e3
                    stats["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    stats["gc_s"] += st.jvmGcTime() / 1e3
                    stats["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    stats["shuffle_read_bytes"] += st.shuffleReadBytes()
                    stats["spill_bytes"] += (st.memoryBytesSpilled()
                                             + st.diskBytesSpilled())
                    stage_iv.append((s0, s1))
                    self._child(op_span, jspan, f"stage:{sid}", s0, s1,
                                {"run_s": st.executorRunTime() / 1e3})
        op_span["attrs"]["spark"] = stats
        op_span["attrs"]["stage_covered_s"] = covered(
            stage_iv, op_span["start"], op_span["attrs"]["timed_end"])
        op_span["attrs"]["plan"] = self._plan_metrics()
        op_span["attrs"]["cached_bytes"] = self._cached_bytes()

    def _child(self, op_span, parent, name, start, end, attrs) -> dict:
        span = {"id": len(self.spans), "op": op_span["op"],
                "parent": parent["id"], "name": name,
                "start": start, "end": end, "attrs": attrs}
        self.spans.append(span)
        return span

    def _plan_metrics(self) -> dict:
        """Plan-node counters summed over the executions the op ran."""
        out = {"candidate_pairs": 0, "dedup_in": 0, "dedup_kept": 0,
               "refine_in": 0, "refine_hits": 0, "broadcast_bytes": 0,
               "python_rows": 0, "python_bytes": 0}
        n = self._sql.executionsCount()
        if n <= self._exec_before:
            return out
        it = self._sql.executionsList(self._exec_before,
                                      n - self._exec_before).iterator()
        while it.hasNext():
            eid = it.next().executionId()
            graph = self._sql.planGraph(eid)
            nodes = parse_plan_dot(
                graph.makeDotFile(self._sql.executionMetrics(eid)))
            _plan_counters(nodes, out)
        return out

    def _cached_bytes(self) -> int:
        """Bytes held by cached RDDs right after the op's action."""
        return sum(int(r.memSize()) + int(r.diskSize())
                   for r in self._jsc.getRDDStorageInfo())


def _innermost(spans: list[dict], t: float | None) -> dict | None:
    """Deepest library span open at time ``t`` (job submission time)."""
    if t is None:
        return None
    best = None
    for s in spans:
        if s["name"].startswith(("job:", "stage:", "op:")) or s["end"] is None:
            continue
        if s["start"] - 1e-3 <= t <= s["end"] + 1e-3:
            if best is None or s["start"] >= best["start"]:
                best = s
    return best


def _plan_counters(nodes: list[dict], out: dict) -> None:
    """Grid-path join counters from plan-node row counts.

    The cell equi-join is the join keyed on ``__cell``; the min-common-cell
    dedup and the exact refine are Python UDFs evaluated by ArrowEvalPython
    nodes and applied by the Filter directly above each of them."""
    for nd in nodes:
        m, desc = nd["metrics"], nd["desc"]
        rows = m.get("number of output rows", 0)
        if "Join" in nd["name"] and "__cell" in desc:
            out["candidate_pairs"] += rows
        if nd["name"] == "BroadcastExchange":
            out["broadcast_bytes"] += m.get("data size", 0)
        if "data sent to Python workers" in m:
            out["python_rows"] += rows
            out["python_bytes"] += (m["data sent to Python workers"]
                                    + m.get("data returned from Python "
                                            "workers", 0))
    by_id = {nd["id"]: nd for nd in nodes}
    for nd in nodes:
        if nd["name"] != "Filter" or len(nd["inputs"]) != 1:
            continue
        child = by_id.get(nd["inputs"][0])
        if child is None or "data sent to Python workers" not in \
                child["metrics"]:
            continue
        n_in = child["metrics"].get("number of output rows", 0)
        n_out = nd["metrics"].get("number of output rows", 0)
        if "min_common" in child["desc"]:
            out["dedup_in"] += n_in
            out["dedup_kept"] += n_out
        else:
            out["refine_in"] += n_in
            out["refine_hits"] += n_out


LIBRARY_CALLS = [  # (span name, metric of its wall time, metric of its jobs)
    ("operators.spatial_join", "operators.spatial_join.call_s",
     "operators.spatial_join.call_jobs"),
    ("operators.knn", "operators.knn.call_s", "operators.knn.call_jobs"),
    ("sources.icetable.append", "sources.icetable.append_s", None),
    ("sql_frontend.sql", "sql_frontend.sql_call_s", None),
]


def _ancestors(span: dict, by_id: dict) -> list[str]:
    names = []
    while span["parent"] is not None:
        span = by_id[span["parent"]]
        names.append(span["name"])
    return names


def ice_io_bytes(before: dict, after: dict) -> tuple[int, int]:
    """(bytes of the data files an append wrote, bytes of the rows it was
    given: url text, two doubles and the WKB point per row)."""
    import os

    import duckdb
    new = sorted(set(after["files"]) - set(before["files"]))
    written = sum(os.path.getsize(f) for f in new)
    given = duckdb.sql(
        "SELECT sum(length(url)) + 16 * count(*) + sum(octet_length(geom)) "
        f"FROM read_parquet({new!r})").fetchone()[0]
    return written, int(given or 0)


def per_layer(records: list[dict], probes: list[dict], tracer: Tracer,
              ncpu: int) -> dict:
    """Per-layer metrics of a traced run.  Times, counts and bytes are summed
    over the ops of a pass and reported as the median over traced passes;
    ratios are taken over all traced ops; probes are medians over passes."""
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    traced = [r for r in records if r["traced"] and "span" in r]
    passes: dict[int, dict] = {}
    tot = dict.fromkeys(("dedup_in", "dedup_kept", "refine_in",
                         "refine_hits", "written", "given"), 0)
    for r in traced:
        acc = passes.setdefault(r["pass"], {})

        def add(key, v):
            acc[key] = acc.get(key, 0) + v
        op = by_id[r["span"]]
        wall = r["wall_s"]
        st = op["attrs"]["spark"]
        for k, v in st.items():
            add(f"spark.{k}", v)
        add("spark.core_idle_s", ncpu * wall - st["executor_run_s"])
        add("spark.driver_self_s", wall - op["attrs"]["stage_covered_s"])
        plan = op["attrs"]["plan"]
        add("operators.spatial_join.candidate_pairs", plan["candidate_pairs"])
        add("operators.spatial_join.broadcast_bytes", plan["broadcast_bytes"])
        add("spark.python_rows", plan["python_rows"])
        add("spark.python_bytes", plan["python_bytes"])
        for k in ("dedup_in", "dedup_kept", "refine_in", "refine_hits"):
            tot[k] += plan[k]
        mine = [s for s in spans if s["op"] == op["op"]]
        for layer, time_key, jobs_key in LIBRARY_CALLS:
            tops = [s for s in mine if s["name"] == layer
                    and layer not in _ancestors(s, by_id)]
            add(time_key, sum(s["end"] - s["start"] for s in tops))
            if jobs_key:
                add(jobs_key, sum(1 for s in mine if s["name"].startswith(
                    "job:") and layer in _ancestors(s, by_id)))
        if any(s["name"] == "operators.knn" for s in mine):
            add("operators.knn.cached_bytes", op["attrs"]["cached_bytes"])
        if "io" in r:
            tot["written"] += r["io"][0]
            tot["given"] += r["io"][1]
    keys = {k for acc in passes.values() for k in acc}
    out = {k: statistics.median(acc.get(k, 0) for acc in passes.values())
           for k in keys}
    # a layer the workload never reached reads 0
    out.update({k: 0.0 for k in ("operators.knn.cached_bytes",
                                 "operators.knn.call_s",
                                 "operators.knn.call_jobs") if k not in out})
    for k in {k for p in probes for k in p}:
        out[k] = statistics.median(p.get(k, 0.0) for p in probes)

    def ratio(a, b):
        return tot[a] / tot[b] if tot[b] else 0.0
    out["operators.spatial_join.dedup_kept_ratio"] = ratio("dedup_kept",
                                                           "dedup_in")
    out["operators.spatial_join.refine_hit_ratio"] = ratio("refine_hits",
                                                           "refine_in")
    out["sources.icetable.bytes_written_per_input_byte"] = ratio("written",
                                                                 "given")
    lat_t = [r["wall_s"] for r in records
             if r["ok"] and r["kind"] == "query" and r["traced"]]
    lat_u = [r["wall_s"] for r in records
             if r["ok"] and r["kind"] == "query" and not r["traced"]]
    out["trace.op_p50_s"] = statistics.median(lat_t) if lat_t else 0.0
    out["trace.untraced_op_p50_s"] = statistics.median(lat_u) if lat_u else 0.0
    out["trace.overhead_ratio"] = (out["trace.op_p50_s"]
                                   / out["trace.untraced_op_p50_s"] - 1
                                   if lat_t and lat_u else 0.0)
    return out


# ---------------------------------------------------------------------------
# probes: single-threaded driver-side timings of public kernel functions on
# a sample of the op's own inputs (outside the op's timed region)
# ---------------------------------------------------------------------------

PROBE_POINTS = 50_000


def _timed(fn, *args, **kwargs) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def run_probes(probe: dict) -> dict:
    """``probe``: the pass's geocoded pages (``geocode``), a point side to
    sample (``points``), the polygon layer's WKB (``polygons``) and the
    benchmark's ice table (``ice_path``)."""
    from sedona_db_spark import grid
    from sedona_db_spark.geometry import kernels as K
    from sedona_db_spark.geometry import wkb as W
    from sedona_db_spark.operators.spatial_join import pick_join_res

    out: dict = {}
    t0 = time.perf_counter()
    probe["geocode"].write.format("noop").mode("overwrite").save()
    out["webtext.geocode_s"] = time.perf_counter() - t0
    sample = probe["points"].select("geom").limit(PROBE_POINTS).toPandas()
    pt_wkbs = list(sample["geom"])
    polys = probe["polygons"]

    t_pts, (px, py) = _timed(W.wkb_to_points, pt_wkbs)
    t_polys, geoms = _timed(lambda: [W.decode(g) for g in polys])
    out["geometry.wkb.decode_s"] = t_pts + t_polys

    boxes = np.array([K.geom_bbox(g) for g in geoms]) if geoms else \
        np.zeros((0, 4))
    stats = {"n": len(geoms),
             "w": float(np.mean(boxes[:, 2] - boxes[:, 0])) if len(boxes) else 0.0,
             "h": float(np.mean(boxes[:, 3] - boxes[:, 1])) if len(boxes) else 0.0}
    res = pick_join_res(stats)
    out["grid.cell_ids_s"], _ = _timed(grid.cell_ids, px, py, res)
    t_cov, covers = _timed(lambda: [grid.covering_cells(*b, res)
                                    for b in boxes])
    out["grid.covering_cells_s"] = t_cov
    out["grid.cells_per_geom"] = (float(np.mean([len(c) for c in covers]))
                                  if covers else 0.0)

    def pip():
        for g, (x0, y0, x1, y1) in zip(geoms, boxes):
            m = (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)
            K.points_in_polygon(px[m], py[m], g[1])
    out["geometry.kernels.points_in_polygon_s"], _ = _timed(pip)

    def intersects():
        for i, (a, ba) in enumerate(zip(geoms, boxes)):
            for b, bb in zip(geoms[i + 1:], boxes[i + 1:]):
                if ba[0] <= bb[2] and bb[0] <= ba[2] and \
                        ba[1] <= bb[3] and bb[1] <= ba[3]:
                    K.geom_intersects(a, b)
    out["geometry.kernels.geom_intersects_s"], _ = _timed(intersects)

    from sedona_db_spark.sources import icetable
    from perfbench.workloads import ICE_BBOX
    full = icetable.scan_files(probe["ice_path"])
    pruned = icetable.scan_files(probe["ice_path"], bbox=ICE_BBOX)
    out["sources.icetable.files_scanned_ratio"] = (
        len(pruned["files"]) / max(1, full["files_total"]))
    return out
