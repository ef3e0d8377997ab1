#!/usr/bin/env python
"""Probe the fixed cost of one Python (pandas-UDF) task.

Prints, as one JSON line:

* ``udf_stage_s`` — median latency of one pandas-UDF stage over four
  one-row partitions (nothing to compute: what is left is the per-task
  fixed cost of the Python workers);
* ``collect_s`` — median latency of a plain collect of the same rows;
* ``invalidate_caches_s`` — median time of ``importlib.invalidate_caches()``
  in a fresh interpreter that imported ``pyspark.worker`` from
  ``pyspark.zip``, without (``stock``) and with (``shim``) the import-cache
  shim of ``datafusion_spatial_spark._daemon``.

Usage::

    PYTHONPATH=. python tools/probe_python_stage_cost.py [--reps 15] [--stock-daemon]

``--stock-daemon`` runs the stage on ``pyspark.daemon`` instead of the
package daemon, for an A/B inside one checkout.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_INVALIDATE = """
import importlib, statistics, sys, time
if sys.argv[1] == "shim":
    import datafusion_spatial_spark._daemon as d
    d.install()
import pyspark.worker
assert ".zip" in pyspark.worker.__file__, pyspark.worker.__file__
ts = []
for _ in range(int(sys.argv[2])):
    t = time.perf_counter()
    importlib.invalidate_caches()
    ts.append(time.perf_counter() - t)
print(statistics.median(ts))
"""


def _spark_zips() -> list[str]:
    import pyspark

    homes = [os.path.dirname(pyspark.__file__), os.environ.get("SPARK_HOME", "")]
    for home in homes:
        zips = sorted(glob.glob(os.path.join(home, "python", "lib", "*.zip")))
        if zips:
            return zips
    raise SystemExit("pyspark.zip not found under the pyspark package or $SPARK_HOME")


def invalidate_cost(variant: str, reps: int) -> float:
    # the zips go first, so pyspark (and its zipimporters) come from them
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(_spark_zips() + [REPO]))
    out = subprocess.run(
        [sys.executable, "-c", _INVALIDATE, variant, str(reps)],
        env=env, check=True, capture_output=True, text=True,
    )
    return float(out.stdout.strip())


def _median_latency(fn, reps: int) -> float:
    fn()  # warm-up: starts the workers, compiles the plan
    ts = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t)
    return statistics.median(ts)


def stage_cost(reps: int, stock_daemon: bool) -> dict:
    from pyspark.sql import functions as F

    from datafusion_spatial_spark.session import get_spark

    confs = {"spark.ui.showConsoleProgress": "false"}
    if stock_daemon:
        confs["spark.python.daemon.module"] = "pyspark.daemon"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    spark = get_spark(app_name="probe_python_stage_cost", master="local[4]",
                      extra_confs=confs)
    try:
        @F.pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        df = spark.range(0, 4, numPartitions=4)
        udf_df = df.select(plus_one("id"))
        return {
            "udf_stage_s": round(_median_latency(udf_df.collect, reps), 4),
            "collect_s": round(_median_latency(df.collect, reps), 4),
            "daemon": spark.conf.get("spark.python.daemon.module"),
        }
    finally:
        spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reps", type=int, default=15)
    ap.add_argument("--stock-daemon", action="store_true")
    args = ap.parse_args()
    out = stage_cost(args.reps, args.stock_daemon)
    out["invalidate_caches_s"] = {
        v: round(invalidate_cost(v, args.reps), 5) for v in ("stock", "shim")
    }
    out["python"] = sys.version.split()[0]
    print(json.dumps(out))


if __name__ == "__main__":
    main()
