"""Decompose the block-score stage's scaling residue (VERDICT r3 item 3).

In-Spark 8→32 block-score efficiency (0.626 at r3) trails the pure-kernel
multiprocessing calibration (0.748) on the same box.  This script
attributes the gap: it runs the stage once per parallelism level in a
FRESH subprocess (honest JVM thread counts), with the per-group timing
hook in scoring.token_set_scorer (SPARK_GRAFT_PROF_DIR) recording, for
every cogroup call, the worker pid, whole-call seconds (Arrow batch →
pandas assembly + kernel), kernel seconds, and pair count.

Per leg it reports:
  wall          stage wall-clock (driver-side, action to completion)
  busy_frac     Σ call-time / (cpus · wall)  — how much of the core-budget
                the Python workers actually used; 1 − busy_frac is the
                HARNESS share (JVM shuffle/plan, Arrow queueing, task
                scheduling, worker idle tail)
  kernel_frac   Σ kernel-time / (cpus · wall)
  assembly_frac Σ (call − kernel) / (cpus · wall) — Arrow→pandas cost
  pairs_per_kernel_sec  kernel-only throughput (frequency derating shows
                here; compare to scripts/kernel_calibration.py)
  tail_sec      last-group-end spread across workers (straggler tail)

Usage:  python scripts/profile_block_score.py            # 8 then 32
        SPARK_GRAFT_PROF_LEGS=4,16 python scripts/...    # other pair
Writes BENCH/scaling_residue.json and prints one JSON line.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run_leg(cpus: int) -> dict:
    """One parallelism level in a fresh subprocess; returns the decomposed
    timing dict the child prints."""
    prof_dir = tempfile.mkdtemp(prefix=f"amspark_prof_{cpus}_")
    env = dict(os.environ)
    env["SPARK_GRAFT_PROF_DIR"] = prof_dir
    env["SPARK_GRAFT_PROF_CPUS"] = str(cpus)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    try:
        out = subprocess.run(
            [sys.executable, __file__, "--leg"],
            capture_output=True, text=True, env=env, cwd=REPO, timeout=3600,
        )
        line = [
            ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")
        ][-1]
        leg = json.loads(line)
        # aggregate the per-group samples the workers appended
        rows = []
        for f in glob.glob(f"{prof_dir}/*.csv"):
            pid = os.path.basename(f).split(".")[0]
            with open(f) as fh:
                for ln in fh:
                    t0, call, kern, pairs, cpu = ln.strip().split(",")
                    rows.append((pid, float(t0), float(call), float(kern),
                                 int(pairs), float(cpu)))
    finally:
        shutil.rmtree(prof_dir, ignore_errors=True)
    busy = sum(r[2] for r in rows)
    kernel = sum(r[3] for r in rows)
    pairs = sum(r[4] for r in rows)
    cpu = sum(r[5] for r in rows)
    wall = leg["wall"]
    ends = {}
    for pid, t0, call, _k, _p, _c in rows:
        ends[pid] = max(ends.get(pid, 0.0), t0 + call)
    tail = (max(ends.values()) - min(ends.values())) if len(ends) > 1 else 0.0
    budget = cpus * wall
    leg.update({
        "cpus": cpus,
        "n_groups": len(rows),
        "n_workers": len(ends),
        "pairs": pairs,
        "busy_frac": round(busy / budget, 3),
        "kernel_frac": round(kernel / budget, 3),
        "assembly_frac": round((busy - kernel) / budget, 3),
        "harness_frac": round(1.0 - busy / budget, 3),
        "pairs_per_kernel_sec": round(pairs / kernel, 1) if kernel else 0.0,
        "pairs_per_cpu_sec": round(pairs / cpu, 1) if cpu else 0.0,
        # on-core fraction of in-call wall: < 1 means workers were
        # descheduled mid-call (oversubscription), not memory-stalled
        "oncore_frac": round(cpu / busy, 3) if busy else 0.0,
        "pairs_per_wall_sec": round(pairs / wall, 1),
        "worker_tail_sec": round(tail, 2),
    })
    return leg


def leg_main() -> None:
    """Child: run the bench block-score stage once at the requested width."""
    import time

    import bench
    from address_matcher_spark.plans import pipeline as P
    from address_matcher_spark.session import get_spark

    cpus = int(os.environ["SPARK_GRAFT_PROF_CPUS"])
    idx = bench.machine_index()
    spark = get_spark(app_name=f"amspark-prof-{cpus}",
                      master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = P.MatchConfig(run_field_passes=False)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _sf, n_search, n_ref = bench._er_scale(sf_dir)
    corpus = bench._bench_corpus(n_search, n_ref)
    # warm (tiny corpus, profile rows from it are negligible but excluded
    # anyway: wipe the prof dir after warm-up)
    prof_dir = os.environ["SPARK_GRAFT_PROF_DIR"]
    warm = bench._sides(spark, bench._bench_corpus(400, 500), cfg)
    bench.run_block_score(spark, warm, cfg)
    for f in glob.glob(f"{prof_dir}/*.csv"):
        os.unlink(f)
    sides = bench._sides(spark, corpus, cfg)
    t0 = time.perf_counter()
    _n, wall = bench.run_block_score(spark, sides, cfg)
    print(json.dumps({"wall": round(wall, 3), "machine_index": idx,
                      "t_total": round(time.perf_counter() - t0, 3)}))


def main() -> None:
    legs = [
        int(x)
        for x in os.environ.get("SPARK_GRAFT_PROF_LEGS", "8,32").split(",")
    ]
    results = {f"local[{c}]": run_leg(c) for c in legs}
    lo, hi = legs[0], legs[-1]
    rl, rh = results[f"local[{lo}]"], results[f"local[{hi}]"]
    eff = (rh["pairs_per_wall_sec"] / rl["pairs_per_wall_sec"]) / (hi / lo)
    kern_eff = (
        (rh["pairs_per_kernel_sec"] / rl["pairs_per_kernel_sec"])
        if rl["pairs_per_kernel_sec"] else 0.0
    )
    out = {
        "legs": results,
        "wall_efficiency": round(eff, 3),
        # per-pair kernel-time ratio hi/lo: <1 means each core got slower
        # at high width (frequency/bandwidth derating), the hardware share
        "kernel_per_pair_derating": round(kern_eff, 3),
        "machine_index": {f"local[{c}]": results[f"local[{c}]"]["machine_index"]
                          for c in legs},
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "scaling_residue.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    if "--leg" in sys.argv:
        leg_main()
    else:
        main()
