"""spark-submit streaming job: the incremental crawl-processing pipeline —
watched pages directory → watermarked url dedup → incremental match against
a static reference, plus a parallel url-change-event stream from the RAW
feed (dedup would hide the re-crawls change tracking exists to see).

Drain semantics: every query runs Trigger.AvailableNow — the cron-batch
shape (process everything new, then exit) that composes with schedulers
and is deterministic in CI.  Exactly-once across invocations comes from
the per-query streaming checkpoints: a re-run processes only files the
checkpoint hasn't seen.

  AM_STREAM_IN    watched dir of pages parquet drops
                  (default: a synthetic two-drop corpus in /tmp)
  AM_REF_DIR      parquet dir of LPI reference addresses
  AM_OUT_DIR      output root (matches/ + change_events/)
  AM_CKPT_DIR     streaming checkpoint root

Ref semantics: the reference's API checkpoint/resume fetch loop
(tools/matcher_funcs.py:111-369) is this at request scale — remember what
was fetched, act only on novelty; here the novelty signals are the
streaming checkpoint (files) and url_change_events (content).
"""

from __future__ import annotations

import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = (
    _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
)

from pyspark.sql import SparkSession  # noqa: E402


def run(spark, in_dir: str, ref_dir: str, out_dir: str, ckpt_dir: str,
        cfg=None) -> dict:
    """One AvailableNow drain of both streams; returns output counts."""
    from address_matcher_spark.plans import pipeline as P
    from address_matcher_spark.streaming import ingest as I

    cfg = cfg or P.MatchConfig(run_field_passes=False)
    ref = P.prepare_reference(spark.read.parquet(ref_dir))
    ref_min = P.standardise_reference(ref, False).localCheckpoint()
    ref_full = P.standardise_reference(ref, True).localCheckpoint()

    matches_dir = os.path.join(out_dir, "matches")
    events_dir = os.path.join(out_dir, "change_events")

    ev_q = (
        I.url_change_events(I.stream_pages(spark, in_dir))
        .writeStream.format("parquet")
        .option("path", events_dir)
        .option("checkpointLocation", os.path.join(ckpt_dir, "events"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    match_q = I.incremental_match(
        I.deduped_pages(I.stream_pages(spark, in_dir)),
        ref_min, ref_full,
        matches_dir, os.path.join(ckpt_dir, "matches"), cfg,
    ).start()
    ev_q.awaitTermination()
    match_q.awaitTermination()

    counts = {}
    for name, path in (("matches", matches_dir), ("change_events", events_dir)):
        try:
            counts[name] = spark.read.parquet(path).count()
        except Exception:
            counts[name] = 0  # no drop produced output yet
    return counts


def write_default_corpus(base: str) -> tuple[str, str]:
    """The synthetic corpus of a run with no inputs set, written once
    under `base`: the reference as one parquet file, and the pages split
    into the two plain parquet files the file source watches,
    drops/drop0.parquet and drops/drop1.parquet.  Returns (the drops
    dir, the reference path)."""
    from address_matcher_spark import datagen

    in_dir = os.path.join(base, "drops")
    ref_path = os.path.join(base, "reference_addresses.parquet")
    if not os.path.exists(os.path.join(in_dir, "drop1.parquet")):
        tables = datagen.generate(datagen.Scale(n_ref=1200, n_search=800))
        os.makedirs(in_dir, exist_ok=True)
        tables["reference_addresses"].to_parquet(ref_path, index=False)
        pages = tables["pages"]
        half = len(pages) // 2
        # drop1 last: its presence marks a complete corpus
        for i, part in enumerate((pages.iloc[:half], pages.iloc[half:])):
            part.to_parquet(os.path.join(in_dir, f"drop{i}.parquet"),
                            index=False)
    return in_dir, ref_path


def main() -> None:
    from address_matcher_spark.session import CODEGEN_CACHE_ENTRIES

    # a static conf: only a builder setting reaches the generated-class
    # cache, which every micro-batch's plans share (session.py)
    spark = SparkSession.builder.config(
        "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
    ).getOrCreate()
    sc = spark.sparkContext
    sc.setLogLevel("WARN")
    # AQE is off for stateful streaming queries, so without this every
    # micro-batch shuffle runs Spark's default 200 tasks (and the state
    # store keeps that count in its checkpoint)
    key = "spark.sql.shuffle.partitions"
    if not sc.getConf().contains(key):
        spark.conf.set(key, str(sc.defaultParallelism))

    in_dir = os.environ.get("AM_STREAM_IN")
    ref_dir = os.environ.get("AM_REF_DIR")
    out_dir = os.environ.get("AM_OUT_DIR", "/tmp/am_stream_out")
    ckpt_dir = os.environ.get("AM_CKPT_DIR", "/tmp/am_stream_ckpt")

    if not in_dir or not ref_dir:
        in_dir, ref_dir = write_default_corpus("/tmp/am_stream_corpus")

    counts = run(spark, in_dir, ref_dir, out_dir, ckpt_dir)
    print(json.dumps(counts))


if __name__ == "__main__":
    main()
