"""Structured Streaming ingest tests: incremental matching equals the
batch run; url dedup; windowed aggregation; checkpoint-driven resume
(second AvailableNow run processes only new files)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from address_matcher_spark import datagen
from address_matcher_spark.plans import pipeline as P
from address_matcher_spark.streaming import ingest as I


@pytest.fixture(scope="module")
def fx():
    return datagen.generate(datagen.Scale(n_ref=300, n_search=200))


@pytest.fixture(scope="module")
def ref_sides(spark, fx):
    ref = P.prepare_reference(spark.createDataFrame(fx["reference_addresses"]))
    return (
        P.standardise_reference(ref, False).cache(),
        P.standardise_reference(ref, True).cache(),
    )


def _write_chunks(spark, fx, in_dir, chunks=2):
    pages = fx["pages"]
    n = len(pages)
    paths = []
    for i in range(chunks):
        chunk = pages.iloc[i * n // chunks:(i + 1) * n // chunks]
        p = os.path.join(in_dir, f"chunk{i}.parquet")
        spark.createDataFrame(chunk).coalesce(1).write.mode("overwrite").parquet(p + ".tmp")
        # move parquet part into the watched dir as a single file
        import glob
        import shutil

        part = glob.glob(p + ".tmp/part-*.parquet")[0]
        shutil.move(part, p)
        shutil.rmtree(p + ".tmp")
        paths.append(p)
    return paths


def test_incremental_match_equals_batch(spark, fx, ref_sides, tmp_path):
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    _write_chunks(spark, fx, in_dir, chunks=2)

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    cfg = P.MatchConfig(run_field_passes=False)

    stream = I.stream_pages(spark, in_dir, max_files_per_trigger=1)
    q = I.incremental_match(stream, *ref_sides, out_dir, ckpt, cfg).start()
    q.awaitTermination(300)

    got = spark.read.parquet(out_dir)
    # batch equivalent over all pages at once
    pages = spark.createDataFrame(fx["pages"])
    search = P.prepare_search(P.search_from_pages(pages), cfg)
    want = P.run_waterfall(
        P.standardise_search(search, False), P.standardise_search(search, True),
        *ref_sides, cfg,
    ).filter(F.col("full_match"))

    got_pairs = {(r.record_id, r.ref_id) for r in got.collect()}
    want_pairs = {(r.record_id, r.ref_id) for r in want.collect()}
    assert got_pairs == want_pairs
    # at least two micro-batches ran (maxFilesPerTrigger=1, 2 files)
    assert got.select("batch_id").distinct().count() >= 2


def test_streaming_resume_processes_only_new_files(spark, fx, ref_sides, tmp_path):
    in_dir = str(tmp_path / "in2")
    os.makedirs(in_dir)
    paths = _write_chunks(spark, fx, in_dir, chunks=2)
    # hide the second chunk for the first run (outside the watched dir —
    # the file source reads every file in it regardless of extension)
    hidden = str(tmp_path / "chunk1.parquet.hidden")
    os.rename(paths[1], hidden)

    out_dir = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    cfg = P.MatchConfig(run_field_passes=False)

    q = I.incremental_match(
        I.stream_pages(spark, in_dir), *ref_sides, out_dir, ckpt, cfg
    ).start()
    q.awaitTermination(300)
    n_first = spark.read.parquet(out_dir).count()

    os.rename(hidden, paths[1])
    q2 = I.incremental_match(
        I.stream_pages(spark, in_dir), *ref_sides, out_dir, ckpt, cfg
    ).start()
    q2.awaitTermination(300)
    out = spark.read.parquet(out_dir)
    n_total = out.count()
    assert n_total > n_first
    # no record processed twice (checkpoint skipped chunk0 on resume)
    assert out.groupBy("record_id").count().filter("count > 1").count() == 0


def test_windowed_aggregation(spark, fx, tmp_path):
    in_dir = str(tmp_path / "in3")
    os.makedirs(in_dir)
    _write_chunks(spark, fx, in_dir, chunks=1)
    out = (
        I.matches_per_window(I.stream_pages(spark, in_dir))
        .writeStream.format("memory").queryName("win_agg")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    out.awaitTermination(120)
    # append mode emits only watermark-closed windows; with a single static
    # timestamp nothing closes — complete mode check instead
    out2 = (
        I.matches_per_window(I.stream_pages(spark, in_dir))
        .writeStream.format("memory").queryName("win_agg_c")
        .outputMode("complete").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt4"))
        .start()
    )
    out2.awaitTermination(120)
    rows = spark.sql("select * from win_agg_c").collect()
    assert sum(r.n_pages for r in rows) == len(fx["pages"])
    assert all(r.lang == "en" for r in rows)


def _job_stream():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "job_stream",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "job_stream.py"),
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    return job


def test_job_stream_default_corpus_has_two_drops(tmp_path):
    """With no inputs set, scripts/job_stream.py streams a synthetic
    corpus: two plain parquet drops holding all of its 800 pages."""
    import pandas as pd

    in_dir, ref_path = _job_stream().write_default_corpus(str(tmp_path))
    drops = sorted(os.listdir(in_dir))
    assert drops == ["drop0.parquet", "drop1.parquet"]
    pages = pd.concat([pd.read_parquet(os.path.join(in_dir, d))
                       for d in drops])
    assert len(pages) == 800 and pages["url"].is_unique
    assert len(pd.read_parquet(ref_path)) > 0


def test_job_stream_two_drop_e2e(spark, fx, ref_sides, tmp_path):
    """scripts/job_stream.py end-to-end over two drops: each AvailableNow
    drain processes only new files (checkpointed), matches equal the batch
    waterfall over the unique pages, change events fire for new urls and
    content changes but not identical re-crawls."""
    job = _job_stream()
    in_dir = str(tmp_path / "drops")
    ref_dir = str(tmp_path / "ref.parquet")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    spark.createDataFrame(fx["reference_addresses"]).write.parquet(ref_dir)
    cfg = P.MatchConfig(run_field_passes=False)

    pages = fx["pages"]
    half = len(pages) // 2
    drop1 = pages.iloc[:half]
    # drop 2: the other half, plus 2 re-crawls with CHANGED text and 1
    # identical re-crawl from drop 1
    import pandas as pd

    changed = pages.iloc[:2].copy()
    changed["text"] = changed["text"] + " extra"
    changed["html"] = [
        h.replace(t0.encode(), (t0 + " extra").encode())
        for h, t0 in zip(pages.iloc[:2]["html"], pages.iloc[:2]["text"])
    ]
    identical = pages.iloc[2:3].copy()
    drop2 = pd.concat([pages.iloc[half:], changed, identical],
                      ignore_index=True)

    def write_drop(pdf, name):
        tmp = os.path.join(in_dir, name + ".tmp")
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(tmp)
        import glob
        import shutil
        shutil.move(glob.glob(tmp + "/part-*.parquet")[0],
                    os.path.join(in_dir, name))
        shutil.rmtree(tmp)

    write_drop(drop1, "d0.parquet")
    c1 = job.run(spark, in_dir, ref_dir, out_dir, ckpt, cfg)
    write_drop(drop2, "d1.parquet")
    c2 = job.run(spark, in_dir, ref_dir, out_dir, ckpt, cfg)
    assert c2["matches"] > c1["matches"]
    assert c2["change_events"] > c1["change_events"]

    # matches == batch waterfall full-matches over the unique pages
    got = spark.read.parquet(os.path.join(out_dir, "matches"))
    assert got.groupBy("record_id").count().filter("count > 1").count() == 0
    search = P.prepare_search(
        P.search_from_pages(spark.createDataFrame(pages)), cfg
    )
    want = P.run_waterfall(
        P.standardise_search(search, False), P.standardise_search(search, True),
        *ref_sides, cfg,
    ).filter(F.col("full_match"))
    got_pairs = {(r.record_id, r.ref_id) for r in got.collect()}
    want_pairs = {(r.record_id, r.ref_id) for r in want.collect()}
    assert got_pairs == want_pairs

    ev = spark.read.parquet(os.path.join(out_dir, "change_events"))
    by_evt = {(r["url"], r["event"]) for r in ev.collect()}
    urls = list(pages["url"])
    assert (urls[0], "changed") in by_evt and (urls[1], "changed") in by_evt
    # the identical re-crawl (urls[2]) emitted only its 'new' event
    assert {e for u, e in by_evt if u == urls[2]} == {"new"}
    # every unique url emitted exactly one 'new'
    assert sum(1 for _, e in by_evt if e == "new") == len(set(urls))


def test_stateful_url_change_events(spark, tmp_path):
    """applyInPandasWithState: per-url state survives across micro-batches
    and triggers — 'new' on first sight, 'changed' on content change,
    silence on identical re-crawl."""
    import datetime

    import pandas as pd

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    ts = datetime.datetime(2026, 1, 1)

    def page(url, text, minute):
        return dict(url=url, warc_ts=ts + datetime.timedelta(minutes=minute),
                    html=text.encode(), text=text, lang="en")

    def run_once(rows, chunk_name):
        pdf = pd.DataFrame(rows)
        tmp = os.path.join(in_dir, chunk_name + ".tmp")
        spark.createDataFrame(pdf, I.PAGES_SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(tmp)
        import glob
        import shutil
        part = glob.glob(tmp + "/part-*.parquet")[0]
        shutil.move(part, os.path.join(in_dir, chunk_name))
        shutil.rmtree(tmp)
        q = (
            I.url_change_events(I.stream_pages(spark, in_dir))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once([page("a", "x", 0), page("b", "y", 1)], "c0.parquet")
    run_once([page("a", "x", 10), page("b", "z", 11), page("c", "w", 12)],
             "c1.parquet")

    got = {(r["url"], r["event"], r["n_crawls"])
           for r in spark.read.parquet(out_dir).collect()}
    assert got == {
        ("a", "new", 1), ("b", "new", 1),          # first batch
        ("b", "changed", 2), ("c", "new", 1),      # second: a is silent
    }
