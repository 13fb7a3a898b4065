"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ensure_parallel(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the input has fewer partitions than the
    cluster has slots.  For compute-heavy per-row projections (md5 chains,
    shingle explodes) a small parquet scan is otherwise 1-2 tasks however
    many cores exist; AQE can't fix it because it sizes stages by input
    BYTES, and these stages are cheap in bytes but hot in CPU.  A no-op on
    real multi-split inputs, so it costs nothing at 100 TB."""
    want = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want)
    return df


def should_broadcast(df: DataFrame, max_bytes: int) -> bool:
    """True when the measured size fits under the explicit-broadcast ceiling.
    Anything larger is left to a shuffled equi-join (AQE may still convert
    it if its own byte stats allow).

    One aggregate JOB (round 8): count and mean serialized-row-width in
    the same pass.  The previous two-step (count job, then a sampled
    width scan) cost two scheduler round-trips on run_waterfall's
    critical path — and the count job already scanned every partition of
    the materialised ref side, so the fused full-scan average costs the
    same I/O as the count alone while dropping the second job and the
    sampling bias."""
    per_field = [
        F.coalesce(F.octet_length(F.col(f.name).cast("string")), F.lit(0))
        + F.lit(16)  # UnsafeRow field overhead + object headers, roughly
        for f in df.schema.fields
    ]
    row_bytes = per_field[0]
    for e in per_field[1:]:
        row_bytes = row_bytes + e
    agg = df.agg(
        F.count(F.lit(1)).alias("n"), F.avg(row_bytes).alias("avg_b")
    ).first()
    est = int(float(agg["avg_b"] or 0.0) * int(agg["n"] or 0))
    return est <= max_bytes


def scoring_npart(spark, residue_rows: int | None = None) -> int:
    """Partition count for the cogrouped scoring stage of both scorers
    (blocked.candidates): flat defaultParallelism, RE-MEASURED after the
    round-5 exact matrix char bound made the fuzzy kernel ~10× faster per
    pair.

    History: with the old kernel the stage was kernel-dominated and the
    last-wave straggler tail (∝ 1/(npart/dp) waves) was ~10% of the
    wall, so measured over-decomposition (up to 32×) paid.  The fast
    kernel inverts the trade: per-task fixed costs (Arrow batch setup,
    Python worker round-trip, scheduling) now dominate, and mirrored
    A/B (scripts/tune_block_score.py) finds mult 1 best at EVERY width
    and corpus size tried — sf0.1 58.7M pairs local[32]: mult1 4.7s /
    mult2 4.6s / mult8 5.5s / mult32 10.0s; local[8]: mult1 4.06s best;
    324M pairs local[32]: mult1 6.9s vs mult4 7.9s vs mult16 9.1s
    (47M pairs/s).  Salt-group imbalance no longer needs scheduler help:
    the groups' pair sums even out over ~235 groups/32 tasks, and the
    pairs the tail used to wait on now score 10× faster.

    Residue-scaled path (later waterfall passes): small residues still
    deserve fewer tasks than cores — ~1 salt group per 64 search rows,
    clamped to [1, dp].  run_waterfall passes each unit's exact residue
    count, so a late level holding a few hundred rows gets a few
    partitions (perfbench batch_skewed seed 1, local[4]: levels 3-4 hold
    359/357 rows, 4 partitions)."""
    dp = spark.sparkContext.defaultParallelism
    if residue_rows is None:
        return dp
    return max(1, min(dp, residue_rows // 64))


def pack_group_count(spark, npart: int, side_rows: int | None = None,
                     rows_cap: int = 100_000,
                     ref_rows: int | None = None) -> int:
    """Bucket count for blocking.pack_groups: enough buckets for the
    scheduler to balance (4 per scoring partition) but no more — every
    bucket is one Arrow/pandas UDF dispatch (~ms of fixed cost), which is
    exactly what packing exists to amortise.

    Scale guard: the cogrouped applyInPandas materialises BOTH sides of
    one group in the Python worker at once, so the count is raised until
    neither side expects more than ~rows_cap rows per bucket on average —
    sized from the MAX of the two sides, since the reference side is
    usually the larger one (sizing from the search residue alone left
    ref-side bucket memory unbounded).  The packed (unsalted-block)
    component of a bucket carries ~side_total/n_groups rows from each
    side, which is what this bounds; heavy blocks' salted cells land on
    distinct (bucket, si, sj) keys and are independently bounded by the
    grid-salting pair target (blocking.salt_for_cogroup_adaptive), so
    replication inflates the salt axes, not the packed axis.  At bench
    scale the guard never binds (45k rows / 128 buckets); at 100 TB it
    keeps worker memory flat as npart stays pinned to cluster cores
    while data grows."""
    g = npart * 4
    bound = max(int(side_rows or 0), int(ref_rows or 0))
    if bound:
        g = max(g, -(-bound // rows_cap))
    return g
