"""Stage-level timing of ONE fuzzy/field waterfall unit on a small
residue — both blockers in one plan, called as run_waterfall calls it —
identifies which shuffle stages carry the fixed per-unit cost that
dominates the waterfall once the kernel is fast.

Runs with the Spark UI enabled (unlike the product session) and dumps
stage name / duration / task count from the REST API."""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from address_matcher_spark.plans import pipeline as P
    from address_matcher_spark.session import ARROW_MAX_RECORDS

    spark = (
        SparkSession.builder.appName("amspark-stageprobe")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_MAX_RECORDS))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    cfg = P.MatchConfig(run_field_passes=True)

    _, n_search, n_ref = bench._er_scale(
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    corpus = bench._bench_corpus(n_search, n_ref)
    warm = bench._sides(spark, bench._bench_corpus(400, 500), cfg)
    bench.run_block_score(spark, warm, cfg)
    sides = bench._sides(spark, corpus, cfg)
    bc = bench._bc_ref(sides, cfg)

    # simulate the late-waterfall shape: a ~5k-row residue
    residue = sides["smin"].orderBy("record_id").limit(5182).localCheckpoint()
    n_res = residue.count()

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def stages():
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
        ) as r:
            return json.loads(r.read())

    # one unit: both blockers, one pass name each, as run_waterfall calls it
    blockers = tuple(b for _, b in P.BLOCKERS)
    names = tuple(f"probe_{b}" for b, _ in P.BLOCKERS)
    before = {s["stageId"] for s in stages()}
    t0 = time.perf_counter()
    out = P.fuzzy_pass(residue, sides["rmin"], blockers, cfg,
                       names, broadcast_ref=bc, residue_rows=n_res)
    out.select(*P.RESULT_COLS).localCheckpoint().count()
    wall = time.perf_counter() - t0
    after = stages()
    new = [s for s in after if s["stageId"] not in before]
    new.sort(key=lambda s: -(s.get("executorRunTime") or 0))
    print(f"fuzzy unit residue={n_res} wall={wall:.2f}s "
          f"stages={len(new)}")
    tot_run = 0
    for s in new:
        run = (s.get("executorRunTime") or 0) / 1000.0
        tot_run += run
        print(f"  stage {s['stageId']:>4} tasks={s['numCompleteTasks']:>3} "
              f"execRun={run:7.2f}s  {s['name'][:90]}")
    print(f"  total executorRunTime: {tot_run:.1f} core-s "
          f"({cpus} cores x {wall:.2f}s wall = {cpus*wall:.0f} core-s budget)")

    # same probe for the field unit
    before = {s["stageId"] for s in stages()}
    from address_matcher_spark.operators.fieldmatch import field_pass
    t0 = time.perf_counter()
    out = field_pass(residue, sides["rmin"], blockers, cfg, names,
                     broadcast_ref=bc, residue_rows=n_res)
    out.select(*P.RESULT_COLS).localCheckpoint().count()
    wall = time.perf_counter() - t0
    new = [s for s in stages() if s["stageId"] not in before]
    new.sort(key=lambda s: -(s.get("executorRunTime") or 0))
    print(f"field unit residue={n_res} wall={wall:.2f}s stages={len(new)}")
    for s in new:
        run = (s.get("executorRunTime") or 0) / 1000.0
        print(f"  stage {s['stageId']:>4} tasks={s['numCompleteTasks']:>3} "
              f"execRun={run:7.2f}s  {s['name'][:90]}")


if __name__ == "__main__":
    main()
