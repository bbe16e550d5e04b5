"""TC-focused scaling experiments (VERDICT r2 #4): BSR kernel + shuffle
placement, two-phase vs fused, at pinned local[4] / local[16].

Same method as BENCH/scaling.py (fresh pinned JVMs, median of measured
rounds, steal captured); TC only, parameterized by kernel and shuffle dir
so the BSR-vs-uint and disk-vs-tmpfs axes can be isolated.

Usage: python BENCH/tc_scaling.py [kernel] [shuffle_dir] [mode]
  kernel      uint | bsr            (default bsr)
  shuffle_dir e.g. /dev/shm/spark_local or "" for default   (default tmpfs)
  mode        twophase | fused      (default twophase)
Appends one JSON line per (cores, config) to /tmp/tc_scaling_results.jsonl.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EDGES_PATH = "/tmp/gsi_scaling_edges_xl"
LO, HI = 4, 16
SHUFFLE_PARTITIONS = 64
REPEATS = 2
RESULTS = "/tmp/tc_scaling_results.jsonl"

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, %(repo)r)
cores = int(sys.argv[1])
kernel = sys.argv[2]
mode = sys.argv[3]
os.sched_setaffinity(0, set(range(cores)))
os.environ['SPARK_DRIVER_MEM'] = '48g'
from graphsetintersection_spark.session import get_spark
from pyspark.sql import functions as F
from graphsetintersection_spark.kernels import (
    batch_bsr_intersect_count, batch_intersect_count)
from graphsetintersection_spark.operators.adjacency import lower_adjacency
from graphsetintersection_spark.operators.edges import orient
from graphsetintersection_spark.operators.triangle import (
    _edge_with_lower_adj, _make_count_batches)

extra = {"spark.sql.execution.arrow.maxRecordsPerBatch": "1048576"}
if %(localdir)r:
    extra["spark.local.dir"] = %(localdir)r
spark = get_spark(app_name=f"gsi-tc-{cores}", master=f"local[{cores}]",
                  shuffle_partitions=%(sp)d, extra_conf=extra)
edges = spark.read.parquet(%(edges)r).persist()
n_edges = edges.count()
sc = spark.sparkContext
fn = _make_count_batches(
    {"uint": batch_intersect_count, "bsr": batch_bsr_intersect_count}[kernel],
    sc.accumulator(0), sc.accumulator(0))

def joined():
    # the recompute shape the two-size ratio was measured on: the raw
    # adjacency aggregate is rebuilt inside each endpoint join
    e = orient(edges).select("src", "dst")
    return _edge_with_lower_adj(e, lower_adjacency(e))

def run_twophase():
    t0 = time.perf_counter()
    j = joined().persist()
    j.count()
    build = time.perf_counter() - t0
    t0 = time.perf_counter()
    tri = int(j.mapInArrow(fn, "tri long").agg(F.sum("tri")).collect()[0][0])
    cnt = time.perf_counter() - t0
    j.unpersist(True)
    return round(build, 2), round(cnt, 2), tri

def run_fused():
    t0 = time.perf_counter()
    j = joined()
    tri = int(j.mapInArrow(fn, "tri long").agg(F.sum("tri")).collect()[0][0])
    e2e = time.perf_counter() - t0
    return 0.0, round(e2e, 2), tri

run = run_twophase if mode == "twophase" else run_fused
_, _, tri0 = run()   # warm-up
res = {"cores": cores, "kernel": kernel, "mode": mode,
       "local_dir": %(localdir)r, "n_edges": n_edges, "triangles": tri0,
       "build_secs": [], "count_secs": []}
for _ in range(%(repeats)d):
    b, c, t = run()
    assert t == tri0
    res["build_secs"].append(b)
    res["count_secs"].append(c)
print(json.dumps(res))
spark.stop()
"""


def read_steal() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def main():
    kernel = sys.argv[1] if len(sys.argv) > 1 else "bsr"
    localdir = sys.argv[2] if len(sys.argv) > 2 else "/dev/shm/spark_local"
    mode = sys.argv[3] if len(sys.argv) > 3 else "twophase"
    if localdir:
        os.makedirs(localdir, exist_ok=True)
    subst = {"repo": REPO, "edges": EDGES_PATH, "sp": SHUFFLE_PARTITIONS,
             "repeats": REPEATS, "localdir": localdir}
    from statistics import median

    out = {}
    for cores in (LO, HI):
        s0 = read_steal()
        proc = subprocess.run(
            [sys.executable, "-c", WORKER % subst, str(cores), kernel, mode],
            capture_output=True, text=True, cwd=REPO, timeout=7200,
        )
        if proc.returncode != 0:
            raise RuntimeError(proc.stderr[-3000:])
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
        r = json.loads(line)
        r["steal"] = read_steal() - s0
        out[cores] = r
        with open(RESULTS, "a") as f:
            f.write(json.dumps(r) + "\n")
        print(json.dumps(r))

    lo, hi = out[LO], out[HI]
    e2e_lo = median([b + c for b, c in zip(lo["build_secs"], lo["count_secs"])])
    e2e_hi = median([b + c for b, c in zip(hi["build_secs"], hi["count_secs"])])
    eff = (e2e_lo / e2e_hi) / (HI / LO)
    print(f"e2e: local[{LO}]={e2e_lo}s local[{HI}]={e2e_hi}s "
          f"speedup={e2e_lo/e2e_hi:.2f}x efficiency={eff:.2f}")
    if mode == "twophase":
        for phase in ("build_secs", "count_secs"):
            ml, mh = median(lo[phase]), median(hi[phase])
            print(f"{phase}: {ml}s vs {mh}s eff={(ml/mh)/(HI/LO):.2f}")


if __name__ == "__main__":
    main()
