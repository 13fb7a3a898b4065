"""Blocking: equi-join candidate generation with skew defusal.

Replaces the reference's per-postcode Python loop + greedy batch packer
(tools/fuzzy_match.py:141-168, tools/matcher_funcs.py:894-986) with:

  * per-block grid salting (X4, salt_for_cogroup_adaptive): both sides
    join the per-block stats of blocks present on BOTH sides, so ref
    blocks nobody searches never ship (J3/X3,
    tools/matcher_funcs.py:1213-1216), and one heavy key (the synthetic
    corpus puts ~25% of rows on a single postcode) splits into salt
    groups sized from the measured block histogram, not guessed;
  * hash packing of small blocks into few cogroup buckets (pack_groups),
    split back into blocks inside the scorer (block_slices);
  * a standalone semi-join prefilter (prefilter_ref) for callers that
    want the active reference rows themselves.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from address_matcher_spark.functions.cache import cached, columns


def prefilter_ref(ref: DataFrame, search: DataFrame, key: str) -> DataFrame:
    """Semi-join: keep only reference rows in blocks the search side hits."""
    return ref.join(search.select(key).distinct(), on=key, how="left_semi")


# pairs per cogroup salt group (see salt_target_pairs_for)
SALT_TARGET_PAIRS = 250_000


def salt_target_pairs_for(spark, cfg) -> int:
    """Target cross-product size per salt group for the cogrouped scorer:
    SALT_TARGET_PAIRS, a flat 250k, RE-MEASURED after the round-5 exact
    matrix char bound.  The arguments are unused; the signature stays for
    callers that size salting as the product does.

    History: the round-4 kernel streamed ~24 MB of float64 matrices per
    250k-pair group and profiling showed DRAM saturation at 32
    concurrent workers, so the default was concurrency-adaptive
    (~2M/parallelism, clamped [32k, 250k]) to keep grids cache-resident
    at high width.  The round-5 kernel halves the matrix bytes (int32
    decision matrices) and skips the LCS/string stage entirely, so the
    bandwidth term shrank below the per-group fixed costs (frozenset
    build, inverted index, Arrow slices) that FAVOUR bigger groups:
    mirrored A/B at mult-1 decomposition (scripts/tune_block_score.py)
    measures the target flat within noise from 62.5k to 1M at both
    local[8] and local[32], with 250k the consistent best at both
    widths and at 324M pairs (47M pairs/s).  250k also keeps the
    grid salting's replication small (salt_for_cogroup_adaptive splits
    a heavy block into ~pairs/target groups, and each side is replicated
    across that group grid)."""
    return SALT_TARGET_PAIRS


def salt_for_cogroup_adaptive(
    search: DataFrame,
    ref: DataFrame,
    key: str | list[str],
    target_pairs: int = 250_000,
    max_splits: int = 64,
    search_id_col: str = "record_id",
    ref_id_col: str = "ref_id",
    ref_hist: DataFrame | None = None,
):
    """PER-BLOCK two-sided (grid) salting for cogrouped cross-scoring —
    X4 done properly.

    Each block needs n = ceil(sc·rc / target) salt groups.  A one-sided
    split replicates the whole ref side n times (row cost rc·n); the grid
    split factors n = a×b with the search side cut a ways × replicated b
    times and the ref side cut b ways × replicated a times, minimising
    replication at a ≈ √(n·sc/rc):  cost sc·b + rc·a ≈ 2√(n·sc·rc)
    instead of rc·n.  Tiny blocks stay whole (a=b=1), so the group count
    — and the per-group UDF overhead — grows only where the data demands
    it.  Per-block factors live in a broadcast histogram join; no driver
    collect.  key: the block key column, or the list of columns that
    together name a block.
    """
    # ref_hist (round 8): a precomputed (key, count) histogram of the
    # ref side — run_waterfall materialises one histogram of both levels'
    # ref preps, in the job after the prep's, and threads each level's
    # slice into all its units, where each unit would otherwise
    # recompute the aggregation from scratch.  Blocks the search side
    # lacks vanish in the inner join with the search histogram, so
    # `stats` — and therefore both salted outputs — hold only blocks
    # present on both sides.
    keys = (key,) if isinstance(key, str) else tuple(key)
    sh = search.groupBy(*columns(keys)).count() \
        .withColumnRenamed("count", "__sc")
    rh = (ref_hist.withColumnRenamed("count", "__rc")
          if ref_hist is not None
          else ref.groupBy(*columns(keys)).count()
          .withColumnRenamed("count", "__rc"))
    na, nb, s_cols, r_cols = _salt_cols(target_pairs, max_splits,
                                        search_id_col, ref_id_col)
    stats = (
        sh.join(rh, key)
        .withColumn("__na", na)
        .withColumn("__nb", nb)
        .select(*columns((*keys, "__na", "__nb")))
    )
    s = (
        search.join(F.broadcast(stats), key)
        .withColumn("__si", s_cols[0]).withColumn("__sj", s_cols[1])
        .drop("__na", "__nb")
    )
    r = (
        ref.join(F.broadcast(stats), key)
        .withColumn("__sj", r_cols[0]).withColumn("__si", r_cols[1])
        .drop("__na", "__nb")
    )
    return s, r, ["__si", "__sj"]


@cached
def _salt_cols(target_pairs: int, max_splits: int, search_id_col: str,
               ref_id_col: str) -> tuple:
    """salt_for_cogroup_adaptive's columns: the per-block split counts
    (__na, __nb), then each side's (own shard, replicas) pair."""
    n = F.ceil(F.col("__sc") * F.col("__rc") / F.lit(target_pairs))
    a = F.ceil(F.sqrt(n * F.col("__sc") / F.col("__rc")))
    a = F.greatest(F.least(a, F.lit(max_splits), F.col("__sc")), F.lit(1))
    b = F.greatest(F.least(F.ceil(n / a), F.lit(max_splits), F.col("__rc")), F.lit(1))

    def shard(id_col: str, n_col: str) -> Column:
        return F.pmod(F.xxhash64(F.col(id_col)), F.col(n_col)).cast("int")

    def replicas(n_col: str) -> Column:
        return F.explode(F.sequence(F.lit(0), (F.col(n_col) - 1).cast("int")))

    return (a.cast("int"), b.cast("int"),
            (shard(search_id_col, "__na"), replicas("__nb")),
            (shard(ref_id_col, "__nb"), replicas("__na")))


def pack_groups(
    search: DataFrame,
    ref: DataFrame,
    keys: list[str],
    extra: list[str],
    n_groups: int,
):
    """Pack (block, salt) cogroup keys into ~n_groups hash buckets.

    The cogrouped scorer pays a fixed Arrow/pandas dispatch cost PER
    GROUP (two pandas frames built, one UDF invocation, one result frame
    — measured ~40 ms against ~0.7 ms of kernel time for a typical
    postcode block).  With one group per block that overhead dominates
    whenever blocks are small, which is the normal shape for postcode
    blocking at any scale.  Bucketing blocks by hash turns ~#blocks
    invocations into ~n_groups, and the scorer sub-groups by the block
    column INSIDE the UDF (block_slices: one factorize + argsort,
    amortised over the whole bucket) — the reference's greedy batch packer
    (tools/matcher_funcs.py:894-986) re-expressed as a hash pack.

    Correctness: a (block, si, sj) group lands in exactly one
    (bucket, si, sj) group, and the scorer never crosses rows from
    different blocks (it sub-groups by the block column), so the pair
    set is identical to the unpacked plan.  Heavy blocks keep their grid
    salting: their salt shards spread over (bucket, si, sj) keys exactly
    as before.
    """
    # n_groups follows the data, so only the hash is cached
    gb = F.pmod(_block_hash(tuple(keys)), F.lit(n_groups)).cast("int")
    return (
        search.withColumn("__gb", gb),
        ref.withColumn("__gb", gb),
        ["__gb", *extra],
    )


@cached
def _block_hash(keys: tuple) -> Column:
    return F.xxhash64(*keys)


def block_slices(left_blocks: pd.Series, right_blocks: pd.Series):
    """Inside a cogrouped scorer: split one packed bucket (pack_groups)
    back into its blocks.  Yields (li, ri), the row positions of one
    block on each side, for every block present on BOTH sides of the
    group (a block can sit on one side only in a given salt cell).  One
    factorize + argsort per bucket, amortised over all its blocks."""
    lb = left_blocks.to_numpy(dtype=object)
    rb = right_blocks.to_numpy(dtype=object)
    codes, uniq = pd.factorize(np.concatenate([lb, rb]))
    lc, rc = codes[: len(lb)], codes[len(lb):]
    lo = np.argsort(lc, kind="stable")
    ro = np.argsort(rc, kind="stable")
    edges = np.arange(len(uniq) + 1)
    lsplit = np.searchsorted(lc[lo], edges)
    rsplit = np.searchsorted(rc[ro], edges)
    for u in range(len(uniq)):
        li = lo[lsplit[u]:lsplit[u + 1]]
        ri = ro[rsplit[u]:rsplit[u + 1]]
        if len(li) and len(ri):
            yield li, ri
