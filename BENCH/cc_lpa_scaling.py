"""CC / LPA per-round scaling at pinned local[4] / local[16] (VERDICT r3
"Next round" #2 — completes the north rule's four-algorithm ≥0.8 story).

Same method as BENCH/tc_scaling.py: fresh CPU-pinned JVMs, identical
shuffle partitioning at both sizes, warm-up round then median of measured
rounds, /proc/stat steal captured, disk-vs-tmpfs shuffle axis via
spark.local.dir.

What is measured: one LPA round (operators.labelprop.lpa_round) and one
min-label CC round (operators.components.cc_minlabel_round) — each round
is the unit that repeats at scale, exactly like a PageRank iteration;
full-convergence wall time is round-count × these. BOTH join strategies
from operators.iterative.prepare_undirected are measured per JVM:

- ``shuffle`` (the shuffle layout + the skew probe's salted hubs) — the
  AT-SCALE path, active whenever V > 10M, i.e. the north rule's
  10^12-document regime. The worker forces it by lowering
  ``iterative.BROADCAST_STATE_MAX_VERTICES`` below the vertex count
  before the prepare, so ``ships_state`` picks it exactly as it would
  above the cutover.
  Per round: labels exchange+sort onto the stationary src-partitioned
  sorted edge cache, one salted dst-keyed aggregation (the real work),
  one small join. This is the headline scaling number.
- ``broadcast`` (the auto strategy at this corpus's 2M vertices) — the
  small-V fast path: zero edge exchange, per-round cost dominated by the
  label-vector broadcast build + driver fixed costs, reported to show
  the absolute-fastest configuration and its fixed-cost floor.

Both JVMs run the SAME deterministic round sequence from the same initial
labels (round 1 = warm-up, then MEASURED_ROUNDS repeats of the identical
round-2 computation), so LO and HI execute identical work. Per-round cost
includes the eager localCheckpoint materialization and (CC) the
content-signature convergence aggregate — they are part of every
production round (operators/{labelprop,components}.py loop bodies).

Usage: python BENCH/cc_lpa_scaling.py [shuffle_dir] [configs] [passes] [rounds]
  shuffle_dir  e.g. /dev/shm/spark_local or "" for the default disk
               (default tmpfs)
  configs      comma list from {shuffle,broadcast} (default both)
  passes       interleaved fresh-JVM passes per size, LO,HI,LO,HI,…
               (default 1); pooled medians decorrelate slow host drift
  rounds       measured rounds per JVM (default MEASURED_ROUNDS)
Appends one JSON line per (cores, config) to /tmp/cc_lpa_results.jsonl.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EDGES_PATH = os.environ.get("CC_LPA_EDGES", "/tmp/gsi_scaling_edges_xl")
LO, HI = 4, 16
SHUFFLE_PARTITIONS = 64
MEASURED_ROUNDS = 6
RESULTS = "/tmp/cc_lpa_results.jsonl"

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, %(repo)r)
cores = int(sys.argv[1])
config = sys.argv[2]   # "shuffle" | "broadcast"
os.sched_setaffinity(0, set(range(cores)))
os.environ['SPARK_DRIVER_MEM'] = '48g'
from graphsetintersection_spark.session import get_spark
from pyspark.sql import functions as F
from graphsetintersection_spark.operators.iterative import prepare_undirected
from graphsetintersection_spark.operators.labelprop import lpa_round
from graphsetintersection_spark.operators.components import cc_minlabel_round
from graphsetintersection_spark.plans.skew import content_signature

extra = {}
if %(localdir)r:
    extra["spark.local.dir"] = %(localdir)r
spark = get_spark(app_name=f"gsi-cclpa-{cores}-{config}",
                  master=f"local[{cores}]",
                  shuffle_partitions=%(sp)d, extra_conf=extra)
edges = spark.read.parquet(%(edges)r)

# ---- prepare (timed once): the operators' own index-build phase
# (operators.iterative.prepare_undirected — layout choice, partitioned
# symmetrize + persist, skew probe), shared by both algorithms. The
# shuffle config lowers the layout cutover below any vertex count, the
# only way to put a corpus of this size on the at-scale layout.
from graphsetintersection_spark.operators import iterative
if config == "shuffle":
    iterative.BROADCAST_STATE_MAX_VERTICES = -1
t0 = time.perf_counter()
prep = prepare_undirected(edges)
verts, plan = prep.verts, prep.plan
assert prep.broadcast == (config == "broadcast")
# the broadcast layout leaves the cache to its first round: count it
# here, so the timed prepare includes the build on both layouts
n_und, n_verts = prep.edges.count(), prep.n
prep_secs = round(time.perf_counter() - t0, 2)

res = {"cores": cores, "config": config, "local_dir": %(localdir)r,
       "n_und": n_und, "n_verts": n_verts,
       "salts": plan.salts if plan else 0,
       "prep_secs": prep_secs, "lpa_secs": [], "cc_secs": []}

# ---- LPA: round 1 from initial labels is the warm-up (JIT/codegen/
# Python pool); then round 2 — the heavy representative round — is
# measured REPEATS times from the SAME input labels so every measurement
# does identical work (the tc_scaling re-run-the-identical-job method)
labels0 = verts.select("v", F.col("v").alias("label"))
labels1 = lpa_round(prep, labels0).localCheckpoint(True)
labels2 = None
for _ in range(%(rounds)d):
    if labels2 is not None:
        labels2.unpersist()
    # untimed: nudge the JVM to collect dead shuffle dependencies so
    # their tmpfs files are actually deleted between rounds — lazy GC
    # lets identical-round reruns accumulate shuffle files in tmpfs
    # (host RAM), which showed up as a monotonic per-round slowdown
    spark.sparkContext._jvm.System.gc()
    time.sleep(2)
    t0 = time.perf_counter()
    labels2 = lpa_round(prep, labels1).localCheckpoint(True)
    res["lpa_secs"].append(round(time.perf_counter() - t0, 2))
res["lpa_distinct"] = labels2.select("label").distinct().count()
labels1.unpersist(); labels2.unpersist()

# ---- min-label CC: same shape; per-round cost includes the convergence
# signature aggregate (one aggregate per round, as in the operator loop)
comp0 = verts.select("v", F.col("v").alias("component"))
comp1 = cc_minlabel_round(prep, comp0).localCheckpoint(True)
sig = content_signature(comp1, "v", "component")
comp2 = None
for _ in range(%(rounds)d):
    if comp2 is not None:
        comp2.unpersist()
    spark.sparkContext._jvm.System.gc()
    time.sleep(2)
    t0 = time.perf_counter()
    comp2 = cc_minlabel_round(prep, comp1).localCheckpoint(True)
    sig = content_signature(comp2, "v", "component")
    res["cc_secs"].append(round(time.perf_counter() - t0, 2))
res["cc_distinct"] = comp2.select("component").distinct().count()
print(json.dumps(res))
spark.stop()
"""


def read_steal() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def main():
    localdir = sys.argv[1] if len(sys.argv) > 1 else "/dev/shm/spark_local"
    configs = (
        sys.argv[2].split(",") if len(sys.argv) > 2 else ["shuffle", "broadcast"]
    )
    # Validate up front: a typo like "bcast" would otherwise launch a JVM
    # on the broadcast layout only to fail the worker's layout
    # assert; passes=0 would leave `out` empty and KeyError in the summary
    # loop.
    bad = [c for c in configs if c not in ("shuffle", "broadcast")]
    if bad:
        raise SystemExit(f"unknown config(s) {bad}; use shuffle,broadcast")
    passes = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    rounds = int(sys.argv[4]) if len(sys.argv) > 4 else MEASURED_ROUNDS
    if passes < 1 or rounds < 1:
        raise SystemExit("passes and rounds must be >= 1")
    if localdir:
        os.makedirs(localdir, exist_ok=True)
    subst = {"repo": REPO, "edges": EDGES_PATH, "sp": SHUFFLE_PARTITIONS,
             "rounds": rounds, "localdir": localdir}
    from statistics import median

    out = {}
    for config in configs:
        for _ in range(passes):
            for cores in (LO, HI):
                s0 = read_steal()
                proc = subprocess.run(
                    [sys.executable, "-c", WORKER % subst, str(cores), config],
                    capture_output=True, text=True, cwd=REPO, timeout=7200,
                )
                if proc.returncode != 0:
                    raise RuntimeError(proc.stderr[-3000:])
                line = [
                    l for l in proc.stdout.splitlines() if l.startswith("{")
                ][-1]
                r = json.loads(line)
                r["steal"] = read_steal() - s0
                with open(RESULTS, "a") as f:
                    f.write(json.dumps(r) + "\n")
                print(json.dumps(r))
                if (config, cores) not in out:
                    out[(config, cores)] = r
                else:
                    pooled = out[(config, cores)]
                    pooled["lpa_secs"] += r["lpa_secs"]
                    pooled["cc_secs"] += r["cc_secs"]
                    pooled["steal"] += r["steal"]
                    assert pooled["lpa_distinct"] == r["lpa_distinct"]
                    assert pooled["cc_distinct"] == r["cc_distinct"]

    for config in configs:
        lo, hi = out[(config, LO)], out[(config, HI)]
        assert lo["lpa_distinct"] == hi["lpa_distinct"]
        assert lo["cc_distinct"] == hi["cc_distinct"]
        for alg in ("lpa", "cc"):
            ml, mh = median(lo[f"{alg}_secs"]), median(hi[f"{alg}_secs"])
            eff = (ml / mh) / (HI / LO)
            eps_lo, eps_hi = lo["n_und"] / ml, lo["n_und"] / mh
            print(
                f"{alg}/{config}: local[{LO}]={ml}s/round "
                f"local[{HI}]={mh}s/round "
                f"({eps_lo:,.0f} vs {eps_hi:,.0f} sym-edges/s/round) "
                f"speedup={ml/mh:.2f}x efficiency={eff:.2f}"
            )


if __name__ == "__main__":
    main()
