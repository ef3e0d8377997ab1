"""Benchmark of the spatial + corpus engine: one closed-loop client per run.

    python3 perfbench/run.py --workload spatial --seed 1 --seconds 10 --trace 0

Run from the repository root. One process starts a local Spark session with
the program's ``get_spark`` defaults on ``local[nproc]``, generates the
workload's inputs from ``--seed``, warms up with whole passes of the query
mix, then issues the mix back to back (the next query starts when the previous
returns) in whole passes until ``--seconds`` have passed, so every kind of
query is weighted as the mix defines. Every query's result is checked against an
independent numpy/Python reference after the timed run.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` traces every
other pass (spans around each layer, Python-worker spans, executed-plan
row and byte counts) and prints the per-layer metrics, including the
tracing overhead measured against the untraced passes of the same run.
The last line of stdout is the result object; the line before it is the
run record (configuration, input properties, failures, per-kind medians).
See LAYERS.md for what each metric measures.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "3g"


def _proc_status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _worker_hwm_mb(jvm_pid: int) -> float:
    """Highest VmHWM among the PySpark daemon and its forked workers."""
    kb = [_proc_status_kb(p, "VmHWM") for p in _descendants(jvm_pid)
          if "pyspark" in _cmdline(p)]
    return max(kb, default=0) / 1024.0


def _percentile(vals: list[float], pct: int) -> tuple[float, int]:
    """Percentile (linear interpolation between order statistics) and the
    number of samples beyond it."""
    p = statistics.quantiles(vals, n=100, method="inclusive")[pct - 1]
    return p, sum(v > p for v in vals)


class Ctx:
    def __init__(self, seed: int, data_dir: str, nproc: int) -> None:
        self.seed = seed
        self.data_dir = data_dir
        self.nproc = nproc
        self.spark = None


def _spark_confs(work: str, trace_dir: str | None) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace_dir:
        confs["spark.python.worker.module"] = "pyspark_perfbench_worker"
    return confs


def _stop(spark) -> None:
    """Stop the session, the gateway JVM and every process under it, and
    wait until they have all ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = _descendants(proc.pid) if proc else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    while tree and time.monotonic() < deadline:
        tree = [p for p in tree if os.path.exists(f"/proc/{p}")
                and "Z" not in open(f"/proc/{p}/stat").read().rsplit(")", 1)[1].split()[:1]]
        if tree:
            time.sleep(0.1)
    for p in tree:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def run(args, work: str) -> dict:
    trace_dir = os.path.join(work, "trace") if args.trace else None
    data_dir = os.path.join(work, "data")
    for d in (data_dir, os.path.join(work, "tmp"), os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    if trace_dir:
        os.makedirs(trace_dir)
        os.environ["PERFBENCH_TRACE_DIR"] = trace_dir
    # the JVM and its Python workers inherit these
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    sys.path.insert(0, ROOT)

    import numpy  # noqa: F401  (fail early, before the JVM starts)
    import pyarrow

    import datafusion_spatial_spark  # noqa: F401
    import workloads
    from datafusion_spatial_spark import session

    tracer = None
    if args.trace:
        import tracing as tr

        tracer = tr.Tracer()
        tr.install(tracer)

    nproc = len(os.sched_getaffinity(0))
    ctx = Ctx(args.seed, data_dir, nproc)
    wl = workloads.WORKLOADS[args.workload](ctx)
    phases = {"imports": time.monotonic() - T0}
    spark = session.get_spark(
        app_name="perfbench", master=f"local[{nproc}]",
        extra_confs=_spark_confs(work, trace_dir),
    )
    ctx.spark = spark
    sc = spark.sparkContext
    jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
    records: list[dict] = []
    try:
        phases["session"] = time.monotonic() - T0 - sum(phases.values())
        input_info = wl.setup()
        phases["inputs"] = time.monotonic() - T0 - sum(phases.values())

        def run_query(i: int, q, timed: bool, traced: bool) -> dict:
            qid = f"q{i}"
            sc.setJobGroup(qid, q.kind)
            sc.setLocalProperty("perfbench.qid", qid)
            sc.setLocalProperty("perfbench.trace", "1" if traced else "0")
            rec = {"i": i, "kind": q.kind, "rows": q.rows, "timed": timed,
                   "traced": traced, "query": q}
            root = None
            if traced:
                tracer.enabled, tracer.qid = True, qid
                root = tracer.span_begin("query")
            t0 = time.monotonic()
            try:
                rec["result"] = q.run()
                rec["error"] = None
            except Exception:
                rec["error"] = traceback.format_exc(limit=3)
            rec["latency"] = time.monotonic() - t0
            if traced:
                tracer.span_end(root)
                tracer.enabled = False
                rec["plan"] = tr.query_plan_counts(q.frames) if not rec["error"] else {}
                rec["jobs"], rec["tasks"] = tr.job_counts(sc, qid)
            q.frames.clear()
            return rec

        # warm-up: untraced passes of the mix (their cold cost -- first
        # Python workers, first code generation, JIT -- is set-up)
        n = len(wl.mix)
        i = 0
        for _ in range(wl.warmup_passes * n):
            records.append(run_query(i, wl.query(i), timed=False, traced=False))
            i += 1
        setup_s = time.monotonic() - T0
        phases["warm_up"] = setup_s - sum(phases.values())

        # whole passes until the deadline, at least the workload's minimum,
        # so every kind keeps its share of the samples. A traced run
        # alternates untraced and traced passes, at least three, so every
        # kind has both and their gap is the overhead.
        t_start = time.monotonic()
        deadline = t_start + args.seconds
        min_passes = max(wl.min_passes, 3 if args.trace else 1)
        passes = 0
        while passes < min_passes or time.monotonic() < deadline:
            traced = bool(args.trace) and passes % 2 == 1
            for _ in range(n):
                records.append(run_query(i, wl.query(i), timed=True, traced=traced))
                i += 1
            passes += 1
        wall = time.monotonic() - t_start
        worker_hwm = _worker_hwm_mb(jvm_pid)
        jvm_hwm = _proc_status_kb(jvm_pid, "VmHWM") / 1024.0
        conf = spark.conf
        run_record = {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "arrow_batch_rows": int(conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")),
            "nproc": nproc,
            "spark_version": spark.version,
            "pyarrow_version": pyarrow.__version__,
        }
    finally:
        _stop(spark)

    # checks, after the measured run
    for r in records:
        if r["error"] is None:
            try:
                r["ok"] = bool(r["query"].check(r["result"]))
            except Exception:
                r["ok"] = False
                r["error"] = traceback.format_exc(limit=3)
            if not r["ok"] and r["error"] is None:
                r["error"] = f"wrong result for {r['kind']}"
        else:
            r["ok"] = False

    timed = [r for r in records if r["timed"]]
    failed = sum(not r["ok"] for r in records)
    report = {
        "workload": args.workload,
        "why": WHY[args.workload],
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "closed_loop_clients": 1,
        "run": run_record,
        "inputs": input_info,
        "setup_s": setup_s,
        "setup_phases_s": phases,
        "warm_up_s_by_kind": {
            k: [round(r["latency"], 4) for r in records if not r["timed"] and r["kind"] == k]
            for k in wl.mix
        },
        "failed_ratio": failed / len(records),
        "errors": [r["error"].strip().splitlines()[-1] for r in records if r["error"]][:5],
    }
    plain = [r for r in timed if not r["traced"]]
    lat = [r["latency"] for r in plain]
    p50 = statistics.median(lat)
    tail, beyond = _percentile(lat, wl.tail_pct)
    report["queries"] = {"timed": len(timed), "untraced": len(lat),
                         "tail_percentile": wl.tail_pct, "samples_beyond_tail": beyond}
    report["latencies_s_by_kind"] = {
        k: [round(r["latency"], 4) for r in plain if r["kind"] == k]
        for k in dict.fromkeys(r["kind"] for r in plain)
    }
    if args.trace:
        metrics = layer_metrics(tr, tracer, timed, trace_dir, jvm_hwm)
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "rows_per_s": {"value": sum(r["rows"] for r in timed if r["ok"]) / wall,
                           "unit": "rows/s"},
            "query_p50_s": {"value": p50, "unit": "s"},
            "query_tail_s": {"value": tail, "unit": "s"},
            "worker_peak_rss_mb": {"value": worker_hwm, "unit": "MB"},
        }
    print(json.dumps(report))
    return {"correct": failed == 0, "attempted": len(records), "failed": failed,
            "metrics": metrics}


WHY = {
    "spatial": "ST_* SQL over WKB and native GeoParquet, a GeoParquet write, a window read "
               "and a point-in-zone join: WKB codec, GeoParquet IO, SQL resolution, grid "
               "join and fast-path refine do the work",
    "corpus_dedup": "no geometry layer runs: text stats, quality filter, MinHash-LSH, "
                    "connected components and cosine top-k, mostly inside the JVM",
}

UNITS = {
    "session.get_spark_s": "s",
    "sources.geoparquet.write_s": "s",
    "sources.geoparquet.read_build_s": "s",
    "sources.geoparquet.window_scan_ratio": "1",
    "plans.sql.resolve_s": "s",
    "exprcache.hit_ratio": "1",
    "operators.spatial_join.build_s": "s",
    "operators.spatial_join.candidates_per_result": "1",
    "operators.spatial_join.cell_rows_per_input": "1",
    "fastpath.busy_s": "s",
    "fastpath.rows": "count",
    "fastpath.fallback_ratio": "1",
    "geom_ops.busy_s": "s",
    "wkb.loads_s": "s",
    "wkb.loads.calls": "count",
    "wkb.dumps_s": "s",
    "wkb.dumps.calls": "count",
    "wkb.to_wkt_s": "s",
    "wkb.to_wkt.calls": "count",
    "wkb.from_wkt_s": "s",
    "wkb.from_wkt.calls": "count",
    "operators.dedup.build_s": "s",
    "operators.dedup.components_s": "s",
    "operators.dedup.lsh_candidates_per_pair": "1",
    "operators.text.build_s": "s",
    "operators.simsearch.build_s": "s",
    "spark.jobs_per_query": "count",
    "spark.tasks_per_query": "count",
    "spark.shuffle_bytes_per_row": "B",
    "spark.spill_bytes": "B",
    "arrow.rows_to_python_per_row": "1",
    "arrow.bytes_to_python_per_row": "B",
    "jvm.heap_peak_mb": "MB",
    "trace.overhead_ratio": "1",
}


def layer_metrics(tr, tracer, timed, trace_dir, jvm_hwm) -> dict[str, float]:
    """Per-layer numbers from the traced queries of the timed run. Times
    and counts are per traced query; ratios are taken over the whole run."""
    traced = [r for r in timed if r["traced"]]
    n = max(1, len(traced))
    qids = {f"q{r['i']}" for r in traced}
    spans = tracer.self_seconds()
    # get_spark ran once, in set-up; every other span only in traced queries
    out = {"session.get_spark_s": spans.get("session.get_spark", 0.0)}
    for name in ("sources.geoparquet.write", "sources.geoparquet.read_build",
                 "plans.sql.resolve", "operators.spatial_join.build",
                 "operators.dedup.build", "operators.dedup.components",
                 "operators.text.build", "operators.simsearch.build"):
        out[name + "_s"] = spans.get(name, 0.0) / n

    def plan_sum(key, kinds=None):
        return sum(r["plan"].get(key, 0.0) for r in traced
                   if kinds is None or r["kind"].split(":")[0] in kinds)

    def ratio(a, b):
        return a / b if b else 0.0

    rows = sum(r["rows"] for r in traced)
    window = [r for r in traced if r["kind"] == "window" and r["ok"]]
    out["sources.geoparquet.window_scan_ratio"] = ratio(
        plan_sum("scan_rows", {"window"}), sum(r["result"] for r in window))
    out["exprcache.hit_ratio"] = ratio(tracer.cache_hits, tracer.cache_calls)
    joins = [r for r in traced if r["kind"] == "contains" and r["ok"]]
    out["operators.spatial_join.candidates_per_result"] = ratio(
        plan_sum("refine_rows", {"contains"}),
        sum(sum(r["result"].values()) for r in joins))
    out["operators.spatial_join.cell_rows_per_input"] = ratio(
        plan_sum("cell_rows", {"contains"}), sum(r["rows"] for r in joins))
    dedups = [r for r in traced if r["kind"] == "dedup" and r["ok"]]
    out["operators.dedup.lsh_candidates_per_pair"] = ratio(
        plan_sum("distinct_rows", {"dedup"}), sum(len(r["result"]) for r in dedups))

    w = tr.worker_layers(trace_dir, qids)
    out["fastpath.busy_s"] = w["fastpath.busy_s"] / n
    out["fastpath.rows"] = w["fastpath.rows"] / n
    out["fastpath.fallback_ratio"] = ratio(w["fallback_rows"], w["refined_rows"])
    out["geom_ops.busy_s"] = w["geom_ops.busy_s"] / n
    for f in ("loads", "dumps", "to_wkt", "from_wkt"):
        out[f"wkb.{f}_s"] = w[f"wkb.{f}_s"] / n
        out[f"wkb.{f}.calls"] = w[f"wkb.{f}.calls"] / n

    out["spark.jobs_per_query"] = sum(r["jobs"] for r in traced) / n
    out["spark.tasks_per_query"] = sum(r["tasks"] for r in traced) / n
    out["spark.shuffle_bytes_per_row"] = ratio(plan_sum("shuffle_bytes"), rows)
    out["spark.spill_bytes"] = plan_sum("spill_bytes") / n
    out["arrow.rows_to_python_per_row"] = ratio(plan_sum("python_rows"), rows)
    out["arrow.bytes_to_python_per_row"] = ratio(plan_sum("python_bytes"), rows)
    out["jvm.heap_peak_mb"] = jvm_hwm

    # overhead: per kind, traced median over untraced median
    ratios = []
    for kind in dict.fromkeys(r["kind"] for r in timed):
        on = [r["latency"] for r in timed if r["kind"] == kind and r["traced"]]
        off = [r["latency"] for r in timed if r["kind"] == kind and not r["traced"]]
        if on and off:
            ratios.append(statistics.median(on) / statistics.median(off))
    out["trace.overhead_ratio"] = statistics.median(ratios) - 1.0 if ratios else 0.0
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WHY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "datafusion_spatial_spark")):
        print("perfbench: the datafusion_spatial_spark package is not in "
              f"{ROOT}; run from a checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
