"""Driver-side tracing for traced runs, and the per-layer metrics.

Spans are recorded from the benchmark's side of each layer boundary:
:func:`install` wraps the program's public functions under every name a
module of the program (or the benchmark) looks them up by. Each span is
[name, start, end, parent index, query id], kept in memory. Python-worker
spans come from :mod:`pyspark_perfbench_worker` through per-task JSON lines.
Executed-plan SQL metrics (rows, bytes, spills) are read after each traced
query from the plans of the DataFrames the query collected.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import sys
import time
from collections import defaultdict

# (module, attribute, span name); a dotted class path patches a method
DRIVER_SPANS = (
    ("datafusion_spatial_spark.session", "get_spark", "session.get_spark"),
    ("datafusion_spatial_spark.sources.geoparquet", "read_geoparquet",
     "sources.geoparquet.read_build"),
    ("datafusion_spatial_spark.sources.geoparquet", "write_geoparquet",
     "sources.geoparquet.write"),
    ("datafusion_spatial_spark.plans.sql:SpatialSQL", "sql", "plans.sql.resolve"),
    ("datafusion_spatial_spark.operators.spatial_join", "spatial_join",
     "operators.spatial_join.build"),
    ("datafusion_spatial_spark.operators.dedup", "minhash_lsh_dedup_pairs",
     "operators.dedup.build"),
    ("datafusion_spatial_spark.operators.dedup", "connected_components",
     "operators.dedup.components"),
    ("datafusion_spatial_spark.operators.text", "text_stats", "operators.text.build"),
    ("datafusion_spatial_spark.operators.simsearch", "cosine_topk",
     "operators.simsearch.build"),
)


class Tracer:
    def __init__(self) -> None:
        self.enabled = False  # set around traced queries only
        self.qid = ""
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.cache_calls = 0
        self.cache_hits = 0

    def span_begin(self, name: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.monotonic(), None, parent, self.qid])
        self._stack.append(idx)
        return idx

    def span_end(self, idx: int) -> None:
        self._stack.pop()
        self.spans[idx][2] = time.monotonic()

    def wrap(self, fn, name: str, always: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not (self.enabled or always):
                return fn(*args, **kwargs)
            idx = self.span_begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.span_end(idx)

        return traced

    def wrap_cache(self, fn):
        """``cached_columns`` that counts hits: a call whose ``build`` never
        runs was served from the cache."""

        @functools.wraps(fn)
        def cached_columns(key, build):
            if not self.enabled:
                return fn(key, build)
            built = []

            def counted_build():
                built.append(True)
                return build()

            out = fn(key, counted_build)
            self.cache_calls += 1
            self.cache_hits += not built
            return out

        return cached_columns

    def self_seconds(self) -> dict[str, float]:
        """Span name -> summed self time (duration minus child spans)."""
        child = defaultdict(float)
        for name, start, end, parent, _ in self.spans:
            if parent >= 0 and end is not None:
                child[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for i, (name, start, end, _, qid) in enumerate(self.spans):
            if end is not None:
                out[name] += end - start - child[i]
        return out


def _rebind(orig, new) -> None:
    """Point every name bound to ``orig`` in the program's (and the
    benchmark's) loaded modules at ``new``."""
    for mod in list(sys.modules.values()):
        d = getattr(mod, "__dict__", None)
        if not d:
            continue
        for attr, val in list(d.items()):
            if val is orig:
                setattr(mod, attr, new)


def install(tracer: Tracer) -> None:
    import importlib

    from datafusion_spatial_spark import exprcache

    for target, attr, name in DRIVER_SPANS:
        mod_name, _, cls = target.partition(":")
        owner = importlib.import_module(mod_name)
        if cls:
            owner = getattr(owner, cls)
            setattr(owner, attr, tracer.wrap(getattr(owner, attr), name))
        else:
            orig = getattr(owner, attr)
            _rebind(orig, tracer.wrap(orig, name, always=(name == "session.get_spark")))
    _rebind(exprcache.cached_columns, tracer.wrap_cache(exprcache.cached_columns))


# ---------------------------------------------------------------------------
# executed-plan metrics

_METRIC = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: Some\([^)]*\), value: (-?\d+)\)")
PYTHON_NODES = ("ArrowEvalPythonExec", "MapInPandasExec", "BatchEvalPythonExec",
                "FlatMapGroupsInPandasExec", "AggregateInPandasExec", "MapInArrowExec")


def plan_nodes(df) -> list[tuple[str, dict, bool]]:
    """(class name, {metric: value}, has a join below) per executed-plan
    node, top-down; adaptive stages are unwrapped into their plans."""
    out: list = []

    def walk(node) -> bool:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        if cls == "ReusedExchangeExec":
            return walk(node.child())
        slot = len(out)
        out.append(None)
        metrics = {k: int(v) for k, v in _METRIC.findall(node.metrics().toString())}
        kids = node.children()
        below = False
        for i in range(kids.size()):
            below = walk(kids.apply(i)) or below
        out[slot] = (cls, metrics, below)
        return below or "Join" in cls

    walk(df._jdf.queryExecution().executedPlan())
    return out


def query_plan_counts(frames) -> dict[str, float]:
    c: dict[str, float] = defaultdict(float)
    for df in frames:
        first_agg = True
        for cls, m, join_below in plan_nodes(df):
            rows = m.get("numOutputRows", 0)
            if cls == "FileSourceScanExec":
                c["scan_rows"] += rows
            elif cls == "GenerateExec":
                c["cell_rows"] += rows
            elif cls in PYTHON_NODES:
                sent = m.get("pythonNumRowsReceived", rows)
                c["python_rows"] += sent
                c["python_bytes"] += m.get("pythonDataSent", 0)
                if join_below:
                    c["refine_rows"] += sent
            elif cls == "ShuffleExchangeExec":
                c["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
            elif cls == "HashAggregateExec" and first_agg:
                # the topmost aggregate; in the dedup plan, the distinct
                # over LSH candidate pairs that feeds the Jaccard check
                c["distinct_rows"] += rows
                first_agg = False
            c["spill_bytes"] += m.get("spillSize", 0)
    return c


def job_counts(sc, group: str) -> tuple[int, int]:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else ()):
            stage = st.getStageInfo(s)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks


# ---------------------------------------------------------------------------
# worker records


def worker_layers(trace_dir: str, traced_qids: set) -> dict[str, float]:
    """Sum the worker-side records of traced queries."""
    tot: dict[str, float] = defaultdict(float)
    for path in glob.glob(os.path.join(trace_dir, "w*.jsonl")):
        with open(path) as f:
            for line in f:
                rec = json.loads(line)
                if rec["qid"] not in traced_qids:
                    continue
                for name, start, end, parent, _, rows, fell_back, child_s in rec["spans"]:
                    tot["fastpath.busy_s"] += end - start - child_s
                    if parent < 0:
                        tot["fastpath.rows"] += rows
                    if name in ("fastpath.predicate_fastpath", "fastpath.distance_fastpath"):
                        tot["refined_rows"] += rows
                        tot["fallback_rows"] += rows if fell_back else 0
                for name, (calls, _, self_s) in rec["sums"].items():
                    tot[name + "_s"] += self_s
                    tot[name + ".calls"] += calls
                    if name.startswith("geom_ops."):
                        tot["geom_ops.busy_s"] += self_s
    return tot
