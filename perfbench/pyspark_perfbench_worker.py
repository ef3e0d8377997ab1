"""Python-worker side of the benchmark's tracing (traced runs only).

The benchmark names this module in ``spark.python.worker.module`` (the
PySpark daemon accepts only worker modules whose name starts with
``pyspark``), so the daemon imports it before it forks workers and calls
:func:`main` once per task. Importing it wraps the layer functions that pandas UDFs
reach inside the worker, under the module attribute each caller looks up
at call time:

* ``functions._fastpath``: ``predicate_fastpath``, ``distance_fastpath``,
  ``flat_coords_batch`` (``predicates`` and ``scalar`` import these names
  inside the UDF body, so the module attribute is what they get);
* ``geom_ops``: the scalar predicate / distance kernels (pickled by
  reference, so the worker resolves them after this patch);
* ``wkb``: ``loads``, ``dumps``, ``to_wkt``, ``from_wkt``.

A task records only when the driver set the local property
``perfbench.trace`` to ``1`` for the query it belongs to. Batch-level calls
(``_fastpath``) become spans (name, start, end, parent, query id);
per-geometry calls (``geom_ops``, ``wkb``) are too many to keep one by one,
so they are summed per (query, name) as calls, total and self seconds. At
the end of each task the records are appended, one JSON line, to
``$PERFBENCH_TRACE_DIR/w<pid>.jsonl``.
"""

from __future__ import annotations

import functools
import json
import os
import time

import pyspark.worker as _pyspark_worker

SPAN_FUNCS = {
    "datafusion_spatial_spark.functions._fastpath": (
        "predicate_fastpath", "distance_fastpath", "flat_coords_batch",
    ),
}
SUM_FUNCS = {
    "datafusion_spatial_spark.geom_ops": (
        "intersects", "disjoint", "contains", "within", "equals", "covers",
        "covered_by", "distance", "dwithin",
    ),
    "datafusion_spatial_spark.wkb": ("loads", "dumps", "to_wkt", "from_wkt"),
}
LAYER = {
    "datafusion_spatial_spark.functions._fastpath": "fastpath",
    "datafusion_spatial_spark.geom_ops": "geom_ops",
    "datafusion_spatial_spark.wkb": "wkb",
}


class _TaskTrace:
    """Records of the current task; reset after each flush."""

    def __init__(self) -> None:
        self.on: bool | None = None  # None: not yet read from the task
        self.qid = ""
        self.stack: list[list] = []  # [name, start, child seconds, span idx]
        self.spans: list[list] = []
        self.sums: dict[str, list] = {}  # name -> [calls, total, self]

    def active(self) -> bool:
        if self.on is None:
            from pyspark import TaskContext

            tc = TaskContext.get()
            self.on = tc is not None and tc.getLocalProperty("perfbench.trace") == "1"
            self.qid = (tc.getLocalProperty("perfbench.qid") or "") if tc else ""
        return self.on

    def flush(self, path: str) -> None:
        if self.on and (self.spans or self.sums):
            rec = {"qid": self.qid, "spans": self.spans, "sums": self.sums}
            with open(path, "a") as f:
                f.write(json.dumps(rec) + "\n")
        self.__init__()


_TASK = _TaskTrace()


def _wrap(fn, name: str, keep_span: bool):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        t = _TASK
        if not t.active():
            return fn(*args, **kwargs)
        frame = [name, time.monotonic(), 0.0, -1]
        if keep_span:
            parent = next((f[3] for f in reversed(t.stack) if f[3] >= 0), -1)
            frame[3] = len(t.spans)
            rows = len(args[0]) if args and hasattr(args[0], "__len__") else 0
            # [name, start, end, parent, query id, rows, fell back, child s]
            t.spans.append([name, frame[1], None, parent, t.qid, rows, False, 0.0])
        t.stack.append(frame)
        out = None
        try:
            out = fn(*args, **kwargs)
            return out
        finally:
            end = time.monotonic()
            t.stack.pop()
            dur = end - frame[1]
            if t.stack:
                t.stack[-1][2] += dur
            if keep_span:
                span = t.spans[frame[3]]
                span[2] = end
                # the fast path declined the batch (None): the caller sends
                # every row of it to the scalar kernels
                span[6] = out is None
                span[7] = frame[2]
            else:
                s = t.sums.setdefault(name, [0, 0.0, 0.0])
                s[0] += 1
                s[1] += dur
                s[2] += dur - frame[2]

    return traced


def install() -> None:
    import importlib

    for table, keep in ((SPAN_FUNCS, True), (SUM_FUNCS, False)):
        for mod_name, attrs in table.items():
            mod = importlib.import_module(mod_name)
            for attr in attrs:
                fn = getattr(mod, attr)
                setattr(mod, attr, _wrap(fn, f"{LAYER[mod_name]}.{attr}", keep))


install()


def main(infile, outfile):
    path = os.path.join(os.environ["PERFBENCH_TRACE_DIR"], f"w{os.getpid()}.jsonl")
    try:
        _pyspark_worker.main(infile, outfile)
    finally:
        _TASK.flush(path)
