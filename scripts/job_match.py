"""spark-submit job entry: end-to-end match + cluster over configurable
inputs (env vars so the same script works via submit_example.sh locally
and on a cluster).

  AM_PAGES_DIR    parquet dir of pages(url, warc_ts, html, text, lang)
                  (default: deterministic synthetic corpus in /tmp)
  AM_REF_DIR      parquet dir of LPI reference addresses
  AM_OUT_DIR      output dir (matches + clusters + run metadata)
  AM_CKPT_DIR     checkpoint root (one commit per waterfall stage)
  AM_RUN_ID       run id for checkpoint lineage (default 'run1')
  AM_PRIOR_DIR    optional parquet of a previous run's matches — rows with
                  full_match are excluded from this run (F4/J11) and their
                  match columns are coalesced into the output (J10)
  AM_BUCKETED_REF_DIR  opt-in 100 TB dimension-reuse path: the standardised
                  reference sides are materialised ONCE as tables bucketed
                  on postcode_search under this dir; this and later runs
                  plan every per-pass ref-side dedup/histogram/semi-join
                  with NO exchange on the reference branch (the reference
                  re-reads its whole extract per run instead,
                  tools/matcher_funcs.py:620-720)
  AM_REF_BUCKETS  bucket count for AM_BUCKETED_REF_DIR (default 32; at
                  100 TB size for a few hundred MB per bucket)
"""

from __future__ import annotations

import json
import os
import sys
import time

# direct `python scripts/job_match.py` from any cwd; spark-submit users
# ship the package via --py-files instead (submit_example.sh).  PYTHONPATH
# (not just sys.path) so executor-side Python workers can unpickle UDFs.
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = (
    _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
)

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    from address_matcher_spark.session import CODEGEN_CACHE_ENTRIES

    # a static conf: only a builder setting reaches the generated-class
    # cache (session.py)
    spark = SparkSession.builder.config(
        "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from address_matcher_spark import datagen
    from address_matcher_spark.operators.cluster import cluster_records
    from address_matcher_spark.plans import pipeline as P
    from address_matcher_spark.sources.checkpoint import CheckpointStore

    pages_dir = os.environ.get("AM_PAGES_DIR")
    ref_dir = os.environ.get("AM_REF_DIR")
    out_dir = os.environ.get("AM_OUT_DIR", "/tmp/am_out")
    ckpt_dir = os.environ.get("AM_CKPT_DIR", "/tmp/am_ckpt")
    run_id = os.environ.get("AM_RUN_ID", "run1")

    if not pages_dir or not ref_dir:
        base = "/tmp/am_job_corpus"
        if not os.path.exists(os.path.join(base, "_done")):
            datagen.write_fixtures(base, datagen.Scale(n_ref=5000, n_search=4000))
            open(os.path.join(base, "_done"), "w").close()
        pages_dir = os.path.join(base, "pages.parquet")
        ref_dir = os.path.join(base, "reference_addresses.parquet")

    cfg = P.MatchConfig()
    store = CheckpointStore(ckpt_dir, run_id)
    prior_dir = os.environ.get("AM_PRIOR_DIR")
    prior = spark.read.parquet(prior_dir) if prior_dir else None

    t0 = time.perf_counter()
    bucketed_root = os.environ.get("AM_BUCKETED_REF_DIR")
    search, ref = P.prepare_sides(
        P.search_from_pages(spark.read.parquet(pages_dir)),
        spark.read.parquet(ref_dir),
        cfg,
        prior_results=prior,
        # a bucketed ref table is reused across runs with different search
        # corpora — it must not bake in this run's search-area co-filter
        cofilter_ref=not bucketed_root,
    )
    ref_min = P.standardise_reference(ref, False)
    ref_full = P.standardise_reference(ref, True)
    ref_materialized = False
    if bucketed_root:
        from address_matcher_spark.sources.bucketing import ensure_bucketed_ref

        n_buckets = int(os.environ.get("AM_REF_BUCKETS", "32"))
        ref_min = ensure_bucketed_ref(
            spark, ref_min, "am_ref_min_b", n_buckets=n_buckets,
            path=os.path.join(bucketed_root, "ref_min"),
        )
        ref_full = ensure_bucketed_ref(
            spark, ref_full, "am_ref_full_b", n_buckets=n_buckets,
            path=os.path.join(bucketed_root, "ref_full"),
        )
        ref_materialized = True
    results = P.run_waterfall(
        P.standardise_search(search, False),
        P.standardise_search(search, True),
        ref_min,
        ref_full,
        cfg, store=store, ref_materialized=ref_materialized,
    )
    results.write.mode("overwrite").parquet(os.path.join(out_dir, "matches"))

    # J10: the reference's user-facing artifact — the ORIGINAL search rows
    # with match columns appended (tools/fuzzy_match.py:389-444); on a
    # prior-results rerun the new matches win and prior ones fill gaps
    from address_matcher_spark.operators.cofilter import join_to_orig_df

    orig = P.search_from_pages(spark.read.parquet(pages_dir))
    results_on_orig = join_to_orig_df(
        spark.read.parquet(os.path.join(out_dir, "matches")), orig, "record_id"
    )
    results_on_orig.write.mode("overwrite").parquet(
        os.path.join(out_dir, "results_on_orig")
    )
    clusters = cluster_records(
        spark.read.parquet(os.path.join(out_dir, "matches"))
    )
    clusters.write.mode("overwrite").parquet(os.path.join(out_dir, "clusters"))

    summary = P.match_summary(
        spark.read.parquet(os.path.join(out_dir, "matches"))
    ).collect()[0].asDict()
    summary["wall_sec"] = round(time.perf_counter() - t0, 2)
    summary["n_clusters"] = clusters.select("cluster_id").distinct().count()
    with open(os.path.join(out_dir, "run_summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
