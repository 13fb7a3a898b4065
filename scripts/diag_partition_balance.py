"""Static pair-load balance of the cogrouped scoring stage.

Answers: does the (block, salt) → scoring-partition assignment itself
create the 4→16 straggler tail?  Reproduces fuzzy_pass's exact salting
(blocking.salt_for_cogroup_adaptive) + packing (blocking.pack_groups)
on the bench corpus, computes every cogroup key's pair count from the
two sides' histograms, and assigns keys to partitions with the SAME
function HashPartitioning uses (pmod(F.hash(keys), npart) — murmur3
seed 42, proven equal to the physical partitioner by the bucketing
sidecar validation in sources/bucketing.py).

Round-6 session-3 result on the 200k×250k corpus (4.36G pairs):

    npart=4  (16 buckets): max/mean 1.019, min/mean 0.979
    npart=16 (64 buckets): max/mean 1.051, min/mean 0.891

i.e. static assignment is balanced to ~5% — the measured ~15% 16-wide
straggler tail is DYNAMIC (per-core speed variance, GC, co-tenancy),
which over-decomposition already failed to buy back (docs/PLANS.md
round-6 A/B).  Kept as the reproducible check that a future corpus or
knob change hasn't broken the assignment.

NOTE: do not measure this with .repartition(...).spark_partition_id()
— AQE's local shuffle read rewrites small diagnostic exchanges and
reports the POST-READ layout (observed: every key "in partition 0").

Usage: SPARK_GRAFT_BENCH_SEARCH=200000 SPARK_GRAFT_BENCH_REF=250000 \
           python scripts/diag_partition_balance.py [npart ...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    import bench as B
    from pyspark.sql import functions as F

    from address_matcher_spark.operators import _util, blocking
    from address_matcher_spark.plans import pipeline as P
    from address_matcher_spark.session import get_spark

    nparts = [int(a) for a in sys.argv[1:]] or [4, 16]
    spark = get_spark(app_name="diag-balance", master="local[16]",
                      shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = P.MatchConfig()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _sf, n_search, n_ref = B._er_scale(sf_dir)
    sides = B._sides(spark, B._bench_corpus(n_search, n_ref), cfg)

    key = "postcode_search"
    s = (sides["smin"].filter(F.col(key) != "")
         .withColumnRenamed(key, "__bk").drop("street_key"))
    r = P.prep_ref_for_block(sides["rmin"], "Postcode")
    s_salted, r_salted, extra = blocking.salt_for_cogroup_adaptive(
        s.select("record_id", "__bk", "search_mod_address"),
        r.select("ref_id", "__bk", "reference_mod_address"),
        "__bk", blocking.salt_target_pairs_for(spark, cfg),
    )
    for npart in nparts:
        n_groups = _util.pack_group_count(spark, npart, None)
        ss, rr, keys = blocking.pack_groups(
            s_salted, r_salted, "__bk", extra, n_groups)
        a = ss.groupBy(*keys, "__bk").count().withColumnRenamed("count", "sc")
        b = rr.groupBy(*keys, "__bk").count().withColumnRenamed("count", "rc")
        per_key = (
            a.join(b, [*keys, "__bk"])
            .withColumn("pairs", F.col("sc") * F.col("rc"))
            .groupBy(*keys)
            .agg(F.sum("pairs").alias("pairs"))
            .withColumn("pt", F.pmod(F.hash(*keys), F.lit(npart)))
        )
        dist = (
            per_key.groupBy("pt")
            .agg(F.sum("pairs").alias("pairs"), F.count("*").alias("n_keys"))
            .toPandas()
        )
        mean = dist["pairs"].sum() / npart
        print(
            f"npart={npart} n_groups={n_groups} used={len(dist)}/{npart} "
            f"max/mean={dist['pairs'].max() / mean:.3f} "
            f"min/mean={dist['pairs'].min() / mean:.3f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
