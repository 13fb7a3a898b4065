"""Round-8 extra benchmarks (guide §1.4): per-query noop-sink isolation
with warm-up-discard + min-of-reps, and `.explain("formatted")` capture.

bench.py is FROZEN for driver measurement; this file holds the
optimization round's own instrumentation.  Usage:

  python bench_extra.py [query ...]            # time queries (noop sink)
  BX_PLANS_DIR=plans/r08 BX_SUFFIX=_before python bench_extra.py --plans q...
                                               # capture plans only
  BX_REPS=3 (default)     reps after the discarded warm-up rep (min 1)
  SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS        same contract as bench.py

Prints one JSON line: {"queries": {name: min_sec}, "reps": {...}}.
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

DEFAULT_QUERIES = [
    "q1_pricing_summary",
    "q3_order_revenue",
    "window_best_order_per_customer",
    "er_block_pair_counts",
    "er_levenshtein_best",
    "er_connected_components",
    "dedup_exact",
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard",
    "dedup_duplicate_spans",
    "dedup_duplicate_span_bounds",
    "dedup_incremental",
    "sequence_pack_chunks",
    "text_stats",
    "ann_cosine_topk",
    "ann_ivf_topk",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # at least one timed rep: min() below needs a sample
    reps = max(1, int(os.environ.get("BX_REPS", "3")))
    plans_dir = os.environ.get("BX_PLANS_DIR")
    suffix = os.environ.get("BX_SUFFIX", "")
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    plans_only = "--plans" in sys.argv
    names = args or DEFAULT_QUERIES

    from address_matcher_spark.plans.driver_queries import QUERIES
    from address_matcher_spark.session import get_spark

    spark = get_spark(app_name="amspark-bench-extra",
                      master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, float] = {}
    allreps: dict[str, list[float]] = {}
    for name in names:
        if plans_dir:
            df = QUERIES[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            os.makedirs(plans_dir, exist_ok=True)
            with open(os.path.join(plans_dir, f"{name}{suffix}.txt"), "w") as fh:
                fh.write(buf.getvalue())
        if plans_only:
            continue
        times: list[float] = []
        for i in range(reps + 1):
            spark.sparkContext.setJobDescription(f"bx:{name} rep{i}")
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
            dt = time.perf_counter() - t0
            if i:  # rep 0 warms codegen/JIT for this plan shape; discard
                times.append(round(dt, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = min(times)
        allreps[name] = times
    print(json.dumps({"queries": out, "reps": allreps,
                      "sf_dir": sf_dir, "cpus": cpus}))


if __name__ == "__main__":
    main()
