"""Per-phase stage table of a Spark event log (uncompressed, not rolling).

run_waterfall describes every job it runs `<unit>/<phase>` (its
docstring lists them).  One row per job description, in order of first
job ("-" for none): jobs, completed stages, finished tasks; gap_s, the
no-job time before each run of its jobs (the driver building the phase);
span_s, first job start to last job end per run; busy_s, time any of its
jobs ran; executor run/CPU/GC seconds and shuffle read/write MB over its
tasks.  Then one row per unit (the tag up to "/"): jobs and gap_s + span_s,
the seconds run_waterfall(metrics=...) times the unit by.

Spark writes the log given its own confs, in PYSPARK_SUBMIT_ARGS or to
spark-submit: --conf spark.eventLog.enabled=true --conf
spark.eventLog.compress=false --conf spark.eventLog.rolling.enabled=false
--conf spark.eventLog.dir=file:///some/dir

  python scripts/stage_report.py LOG [--after DESC]
      only the jobs after the last one described DESC (e.g. a warm-up)
  python scripts/stage_report.py --waterfall
      bench.py's 8-pass waterfall at the scale of the TPC-H dir
      SPARK_GRAFT_SF_DIR (as bench.py), once after its warm-up; the
      warm-up is described "warm-up" and the caller's collect "collect";
      prints run_waterfall's metrics
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

COLS = ("jobs", "stages", "tasks", "gap_s", "span_s", "busy_s", "run_s",
        "cpu_s", "gc_s", "read_mb", "write_mb")


def tag_table(lines, after: str | None = None) -> dict[str, Counter]:
    """Event-log lines → {job description: Counter of COLS}."""
    jobs, owner, done, tasks = {}, {}, [], []
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            jobs[e["Job ID"]] = [e["Submission Time"], None, desc or "-"]
            for s in e["Stage IDs"]:  # a stage runs under the first job
                owner.setdefault(s, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]][1] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            done.append(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            tasks.append((e["Stage ID"], e.get("Task Metrics") or {}))
    order = sorted(jobs, key=lambda j: (jobs[j][0], j))
    skip = [j for j in order if jobs[j][2] == after]
    start = order.index(skip[-1]) + 1 if skip else 0
    kept = set(order[start:])
    rows: dict[str, Counter] = {}
    busy_end: dict[str, float] = {}
    last_end = prev = run_end = None
    for j in order:
        sub, end, tag = jobs[j]
        end = end or sub
        if j in kept:
            r = rows.setdefault(tag, Counter())
            r["jobs"] += 1
            if tag != prev:  # a new run of this tag's jobs
                r["gap_s"] += max(0, sub - (last_end or sub)) / 1e3
                run_end = sub
            r["span_s"] += max(0, end - run_end) / 1e3
            r["busy_s"] += max(0, end - max(sub, busy_end.get(tag, sub))) / 1e3
            busy_end[tag] = max(busy_end.get(tag, end), end)
            run_end = max(run_end, end)
        last_end = max(last_end or end, end)
        prev = tag
    for s in done:
        if owner.get(s) in kept:
            rows[jobs[owner[s]][2]]["stages"] += 1
    for s, m in tasks:
        if owner.get(s) in kept:
            r = rows[jobs[owner[s]][2]]
            rd = m.get("Shuffle Read Metrics") or {}
            r["tasks"] += 1
            r["run_s"] += m.get("Executor Run Time", 0) / 1e3
            r["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            r["read_mb"] += (rd.get("Remote Bytes Read", 0)
                             + rd.get("Local Bytes Read", 0)) / 1e6
            r["write_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0) / 1e6
    return rows


def unit_table(rows: dict[str, Counter]) -> dict[str, Counter]:
    units: dict[str, Counter] = {}
    for tag, r in rows.items():
        if "/" in tag:
            u = units.setdefault(tag.split("/")[0], Counter())
            u["jobs"] += r["jobs"]
            u["seconds"] += r["gap_s"] + r["span_s"]
    return units


def render(rows: dict[str, Counter]) -> str:
    w = max([len(t) for t in rows] + [4])
    out = [f"{'tag':<{w}} " + " ".join(f"{c:>8}" for c in COLS)]
    for tag, r in rows.items():
        out.append(f"{tag:<{w}} " + " ".join(
            f"{r[c]:>8}" if c in COLS[:3] else f"{r[c]:>8.2f}" for c in COLS))
    out += ["", f"{'unit':<{w}} {'jobs':>8} {'seconds':>8}"]
    out += [f"{u:<{w}} {r['jobs']:>8} {r['seconds']:>8.2f}"
            for u, r in unit_table(rows).items()]
    return "\n".join(out)


def run_sf_waterfall() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    import bench
    from pyspark.sql import functions as F

    from address_matcher_spark.plans import pipeline as P
    from address_matcher_spark.session import get_spark

    spark = get_spark(app_name="amspark-stage-report")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    cfg = P.MatchConfig(run_field_passes=True)
    sc.setJobDescription("warm-up")
    _, n_search, n_ref = bench._er_scale(os.environ["SPARK_GRAFT_SF_DIR"])
    warm = bench._sides(spark, bench._bench_corpus(400, 500), cfg)
    bench.run_block_score(spark, warm, cfg)
    sides = bench._sides(spark, bench._bench_corpus(n_search, n_ref), cfg)
    sc.setJobDescription("collect")
    metrics: dict = {}
    res = P.run_waterfall(sides["smin"], sides["sfull"], sides["rmin"],
                          sides["rfull"], cfg, sides_materialized=True,
                          metrics=metrics)
    metrics["matched_final"] = res.filter(F.col("full_match")).count()
    print(json.dumps(metrics))
    spark.stop()


def main(argv: list[str]) -> None:
    if argv == ["--waterfall"]:
        return run_sf_waterfall()
    after = argv[argv.index("--after") + 1] if "--after" in argv else None
    with open(argv[0]) as fh:
        print(render(tag_table(fh, after)))


if __name__ == "__main__":
    main(sys.argv[1:])
