"""Benchmark of the address matcher on local[nproc], one closed-loop client.

    python3 perfbench/run.py --workload batch_skewed --seed 42 --seconds 5 --trace 0

Run it from the root of a checkout.  It generates its inputs from
--seed with `address_matcher_spark.datagen` (cached under
.perfbench_state/), sets up one Spark session, runs one discarded
warm-up operation, then runs operations until --seconds have elapsed
(always at least one).  The last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1 is
the separate traced run and reports the per-layer metrics.  The line
before it is {"context": ...}: cores, versions and a CPU-speed probe,
recorded only.  See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("batch_skewed", "lookup_single")
CODEGEN_FALLBACK = "grows beyond 64 KB"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench",
                    help="corpus size; 'tiny' is for the smoke test")
    return ap.parse_args(argv)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 1])."""
    v = sorted(values)
    return v[max(0, math.ceil(q * len(v)) - 1)]


def tail(values: list[float]) -> float:
    """The highest percentile that leaves at least ten samples beyond
    it; with ten samples or fewer that does not exist and the maximum is
    reported instead."""
    v = sorted(values)
    return v[len(v) - 11] if len(v) > 10 else v[-1]


def configure_env(work: Path, trace: bool) -> None:
    """Keep every file the run writes inside the checkout, let the
    Python workers import the product, and (traced run) turn on the
    event log and the scorer's profiling hook."""
    import shlex
    import tempfile

    for sub in ("tmp", "spark-local", "events", "prof"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    conf = [f"spark.sql.warehouse.dir={work / 'warehouse'}",
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={work / 'tmp'}"]
    if trace:
        conf += ["spark.eventLog.enabled=true",
                 "spark.eventLog.compress=false",
                 "spark.eventLog.rolling.enabled=false",
                 f"spark.eventLog.dir=file://{work / 'events'}"]
        os.environ["SPARK_GRAFT_PROF_DIR"] = str(work / "prof")
    else:
        os.environ.pop("SPARK_GRAFT_PROF_DIR", None)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in conf) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: Path, traces: Path, log_path: Path) -> tuple[dict, dict]:
    import probes
    import workloads as W

    trace = bool(args.trace)
    t0 = time.perf_counter()
    corpus = W.load_corpus(str(ROOT / ".perfbench_state"), args.seed, args.scale)
    corpus_s = time.perf_counter() - t0
    configure_env(work, trace)
    cores = len(os.sched_getaffinity(0))
    tracer = probes.Tracer(enabled=trace)

    latencies, windows, perf_windows, records, layers, ops = [], [], [], 0, [], []
    attempted = raised = 0
    durable, drop_failures = {}, []
    with probes.MemSampler() as mem:
        from address_matcher_spark.session import get_spark

        with tracer.span("session") as sp:
            spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                              shuffle_partitions=cores)
            spark.sparkContext.setLogLevel("ERROR")
        session_s = sp.seconds
        try:
            if args.workload == "batch_skewed":
                wl = W.BatchSkewed(spark, corpus, tracer)
            else:
                wl = W.LookupSingle(spark, corpus, tracer, args.seed, str(work))
            with tracer.span("setup") as sp:
                wl.setup()
            warmup_s = sp.seconds - getattr(wl, "bucketing_s", 0.0)
            setup_s = probes.process_age_s() - corpus_s

            start = time.perf_counter()
            while True:
                with tracer.span("op", attempted) as sp:
                    try:
                        res = wl.operation(attempted)
                    except Exception:  # a failed operation is counted, not fatal
                        traceback.print_exc()
                        res = None
                attempted += 1
                if res is None:
                    raised += 1
                else:
                    ops.append(res)
                    latencies.append(sp.seconds)
                    records += res.records
                    windows.append((sp.wall, sp.wall + sp.seconds))
                    perf_windows.append((sp.start, sp.start + sp.seconds))
                    if trace:
                        layers.append(op_layer_metrics(spark, wl, res))
                if time.perf_counter() - start >= args.seconds:
                    break
            if ops:
                wl.late_checks(ops)
            if trace and ops and hasattr(wl, "refresh_drop"):
                # the drop is attempted and checked, but its quality and
                # time stay out of the operations' figures
                drop, durable = wl.refresh_drop(ops[-1], str(work / "store"))
                drop_failures = drop.failures
                attempted += 1
            context = probes.run_context(spark, cores)
        finally:
            stop_spark(spark)
    quality = [0, 0, 0]
    for op_id, res in enumerate(ops):
        if res.failures:
            print(f"operation {op_id} failed: {res.failures}", file=sys.stderr)
        for i, x in enumerate(W.pair_counts(res.results, corpus.labeled,
                                            res.submitted)):
            quality[i] += x
    if drop_failures:
        print(f"refresh drop failed: {drop_failures}", file=sys.stderr)
    failed = raised + bool(drop_failures) + sum(bool(res.failures) for res in ops)
    context.update(cpu_probe_mloops_per_s=round(probes.cpu_probe(), 3),
                   workload=args.workload, seed=args.seed, scale=args.scale,
                   trace=args.trace, corpus_rows=len(corpus.search),
                   f1=W.f1(*quality), operations=attempted,
                   peak_pss=mem.peak_split)
    if not latencies:
        metrics = {}
    elif not trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "records_per_s": (records / sum(latencies), "1/s"),
            "latency_p50_s": (percentile(latencies, 0.5), "s"),
            "latency_tail_s": (tail(latencies), "s"),
            "peak_pss_mb": (mem.peak_bytes / 2**20, "MB"),
        }
    else:
        log = probes.read_event_log(str(work / "events"))
        with open(log_path, errors="replace") as fh:
            fallbacks = fh.read().count(CODEGEN_FALLBACK)
        metrics = traced_metrics(
            layers, tracer, session_s, warmup_s,
            getattr(wl, "bucketing_s", 0.0), fallbacks,
            probes.engine_counters(log, windows),
            probes.scorer_profile(str(work / "prof"), perf_windows),
            W.f1(*quality), latencies, durable)
        tracer.dump(str(traces / f"{args.workload}-seed{args.seed}-{os.getpid()}.json"))
    result = {
        "correct": failed == 0 and bool(latencies),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, context


def op_layer_metrics(spark, wl, res) -> dict:
    """Per-layer numbers of one traced operation.  The counts below run
    after the operation's window closed, on its materialised frames."""
    lay = wl.layer
    search_in, prepared = lay["input"]
    wf = lay["waterfall.metrics"]
    m = {
        "cofilter.s": lay["cofilter.s"],
        "cofilter.search_kept_frac": prepared.count() / max(search_in.count(), 1),
        "standardise.s": lay["standardise.s"],
        "standardise.rows": sum(f.count() for f in lay["standardised"]),
        "pipeline.prep_s": sum(v for k, v in wf.items()
                               if k.startswith("prep_")),
        "pipeline.broadcast_measure_s": wf.get("broadcast_measure_sec", 0.0),
        "join_back.s": lay.get("join_back.s", 0.0),
        "cluster.s": lay.get("cluster.s", 0.0),
        "cluster.edges": int(res.results["full_match"].fillna(False).sum())
        if "cluster.s" in lay else 0,
    }
    passes = wf.get("passes", [])
    for lvl in range(1, 5):
        p = passes[lvl - 1] if len(passes) >= lvl else {}
        m[f"pipeline.level{lvl}.s"] = p.get("seconds", 0.0)
        m[f"pipeline.level{lvl}.residue_rows"] = p.get("residue_rows", 0)
        m[f"pipeline.level{lvl}.matched"] = p.get("matched", 0)
    m["fieldmatch.s"] = m["pipeline.level3.s"] + m["pipeline.level4.s"]
    m["fieldmatch.residue_rows"] = m["pipeline.level3.residue_rows"]
    m.update(blocking_stats(spark, *lay["level1"]))
    return m


def blocking_stats(spark, search_min, ref_min) -> dict:
    """Level 1's postcode blocking: candidate pairs (Σ search × ref rows
    over blocks), the hottest block's share of them, the cogroup salt
    groups the adaptive salting makes for them, and how many blocks it
    splits into more than one group."""
    from pyspark.sql import functions as F

    from address_matcher_spark.operators import blocking
    from address_matcher_spark.plans import pipeline as P

    s = (search_min.filter(F.col("postcode_search") != "")
         .withColumnRenamed("postcode_search", "__bk"))
    r = P.prep_ref_for_block(ref_min, "Postcode")
    sh = s.groupBy("__bk").count().withColumnRenamed("count", "sc")
    rh = r.groupBy("__bk").count().withColumnRenamed("count", "rc")
    prod = F.col("sc") * F.col("rc")
    row = sh.join(rh, "__bk").agg(F.sum(prod).alias("p"),
                                  F.max(prod).alias("mx")).first()
    pairs, hottest = int(row["p"] or 0), int(row["mx"] or 0)
    target = blocking.salt_target_pairs_for(spark, P.MatchConfig())
    salted, _, cols = blocking.salt_for_cogroup_adaptive(s, r, "__bk", target)
    per_block = salted.select("__bk", *cols).distinct().groupBy("__bk").count()
    groups = per_block.agg(
        F.sum("count").alias("g"),
        F.count(F.when(F.col("count") > 1, 1)).alias("split")).first()
    return {"blocking.candidate_pairs": pairs,
            "blocking.hot_block_share": hottest / pairs if pairs else 0.0,
            "blocking.salt_groups": int(groups["g"] or 0),
            "blocking.salted_blocks": int(groups["split"] or 0)}


def traced_metrics(layers, tracer, session_s, warmup_s, bucketing_s,
                   fallbacks, engine, scorer, f1, latencies, durable) -> dict:
    def mean(key):
        return statistics.fmean(lay[key] for lay in layers) if layers else 0.0

    std_s = sum(lay["standardise.s"] for lay in layers)
    selfs = tracer.self_times()
    op_self = [selfs[i] for i, s in enumerate(tracer.spans) if s.name == "op"]
    out = {
        "session.start_s": (session_s, "s"),
        "setup.warmup_s": (warmup_s, "s"),
        "bucketing.build_s": (bucketing_s, "s"),
        "cofilter.s": (mean("cofilter.s"), "s"),
        "cofilter.search_kept_frac": (mean("cofilter.search_kept_frac"), "ratio"),
        "standardise.s": (mean("standardise.s"), "s"),
        "standardise.rows_per_s": (
            sum(lay["standardise.rows"] for lay in layers) / std_s
            if std_s else 0.0, "1/s"),
        "standardise.codegen_fallbacks": (fallbacks, "count"),
        "pipeline.prep_s": (mean("pipeline.prep_s"), "s"),
        "pipeline.broadcast_measure_s": (mean("pipeline.broadcast_measure_s"), "s"),
    }
    for lvl in range(1, 5):
        out[f"pipeline.level{lvl}.s"] = (mean(f"pipeline.level{lvl}.s"), "s")
        for k in ("residue_rows", "matched"):
            key = f"pipeline.level{lvl}.{k}"
            out[key] = (mean(key), "count")
    out.update({
        "blocking.candidate_pairs": (mean("blocking.candidate_pairs"), "count"),
        "blocking.hot_block_share": (mean("blocking.hot_block_share"), "ratio"),
        "blocking.salt_groups": (mean("blocking.salt_groups"), "count"),
        "blocking.salted_blocks": (mean("blocking.salted_blocks"), "count"),
        "scoring.kernel_s": (scorer["kernel_s"], "s"),
        "scoring.udf_call_s": (scorer["udf_call_s"], "s"),
        "scoring.pairs": (scorer["pairs"], "count"),
        "scoring.pairs_per_core_s": (scorer["pairs_per_core_s"], "1/s"),
        "fieldmatch.s": (mean("fieldmatch.s"), "s"),
        "fieldmatch.residue_rows": (mean("fieldmatch.residue_rows"), "count"),
        "join_back.s": (mean("join_back.s"), "s"),
        "cluster.s": (mean("cluster.s"), "s"),
        "cluster.edges": (mean("cluster.edges"), "count"),
        "cluster.supersteps": (durable.get("cluster.supersteps", 0), "count"),
        "cofilter.prior_excluded_rows": (
            durable.get("cofilter.prior_excluded_rows", 0), "count"),
        "checkpoint.commits": (durable.get("checkpoint.commits", 0), "count"),
        "checkpoint.write_s": (durable.get("checkpoint.write_s", 0.0), "s"),
        "checkpoint.bytes_written": (
            durable.get("checkpoint.bytes_written", 0), "bytes"),
        "checkpoint.bytes_per_input_byte": (
            durable.get("checkpoint.bytes_per_input_byte", 0.0), "ratio"),
        "refresh.s": (durable.get("refresh.s", 0.0), "s"),
        "refresh.records_per_s": (durable.get("refresh.records_per_s", 0.0), "1/s"),
        "spark.jobs": (engine["jobs"], "count"),
        "spark.stages": (engine["stages"], "count"),
        "spark.tasks": (engine["tasks"], "count"),
        "spark.executor_cpu_s": (engine["cpu_s"], "s"),
        "spark.gc_s": (engine["gc_s"], "s"),
        "spark.shuffle_write_bytes": (engine["shuffle_write"], "bytes"),
        "spark.stage_gap_s": (engine["gap_s"], "s"),
        "quality.f1": (f1, "ratio"),
        "trace.op_s": (statistics.median(latencies), "s"),
        "trace.op_self_s": (statistics.fmean(op_self) if op_self else 0.0, "s"),
    })
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "address_matcher_spark" / "api.py").is_file():
        print(f"perfbench: no address_matcher_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(Path(__file__).resolve().parent)]
    state = ROOT / ".perfbench_state"
    work = state / f"work-{os.getpid()}"
    traces = state / "traces"
    work.mkdir(parents=True, exist_ok=True)
    traces.mkdir(parents=True, exist_ok=True)
    log_path = work / "run.log"
    # Spark's JVM inherits fd 2: its log goes to the run's log file
    real_stderr = os.dup(2)
    with open(log_path, "w") as log:
        os.dup2(log.fileno(), 2)
    try:
        result, context = run(args, work, traces, log_path)
    except BaseException:
        os.dup2(real_stderr, 2)
        traceback.print_exc()
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("--- end of the run's log ---\n" + fh.read()[-4000:])
        raise
    finally:
        os.dup2(real_stderr, 2)
        os.close(real_stderr)
        shutil.copy(log_path, traces / f"{args.workload}-seed{args.seed}-{os.getpid()}.log")
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
