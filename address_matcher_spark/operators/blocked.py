"""One blocked pass for both scorers: block → Arrow cross-score →
shortlist → verify → best match (the reference's waterfall pass,
tools/matcher_funcs.py:988-1074).

The fuzzy passes (rapidfuzz token_set_ratio, pipeline.FUZZY) and the
field-wise passes (weighted per-field sum, fieldmatch.FIELD) run the SAME
pipeline; a `Scorer` record holds only what differs between them, and
`blocked_pass` is the one implementation of everything else:

  candidates  block-key select/rename → ref prep → per-block grid
              salting (keeps only blocks both sides hold) → hash
              packing → numbered repartition → cogrouped Arrow
              cross-score → per-record max
  tail        broadcast decision → join-back to both sides → D1-D7
              decisions → optional wratio tie-break → W1 best match
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from address_matcher_spark.operators import (
    _util, blocking, scoring, select, verify,
)

_KEYS = {"Postcode": "postcode_search", "Street": "street_key"}


@dataclass(frozen=True)
class Scorer:
    """What differs between the fuzzy and the field-wise pass.

    prep_search:  search-side projection applied before blocking
                  (predicted LPI fields for the field scorer).
    search_cols / ref_cols:  columns each side ships into the cogroup
                  besides its id and the block key.
    cross_score:  (search, ref, key_cols, block_col, cfg) → (record_id,
                  ref_id, fuzzy_score) per-group candidates; the block
                  key arrives as the data column block_col.
    verify_limit: (cfg, blocker) → the D1 score threshold.
    wratio_tiebreak: whether tied shortlists get the plain-ratio
                  tie-break (P2); the field pass carries a null score.
    """

    prep_search: Callable[[DataFrame], DataFrame]
    search_cols: tuple[str, ...]
    ref_cols: tuple[str, ...]
    cross_score: Callable[..., DataFrame]
    verify_limit: Callable[..., float]
    wratio_tiebreak: bool


def prep_ref_for_block(ref_std: DataFrame, blocker: str) -> DataFrame:
    """Block-keyed reference variant: filter empty keys, rename the block
    key to __bk, drop the other key, dedup identical standardised rows
    (X7 — join-key fan-out guard).  There are only FOUR distinct variants
    per run ((min|full) × (postcode|street)); run_waterfall materialises
    them once and threads them into every pass instead of paying the
    dedup shuffle 8× (once per pass)."""
    key = _KEYS[blocker]
    r = ref_std.filter(F.col(key) != "").withColumnRenamed(key, "__bk")
    r = r.drop(*(set(_KEYS.values()) - {key}))
    return r.dropDuplicates(["__bk", "reference_mod_address"])


def candidates(
    scorer: Scorer,
    search_std: DataFrame,
    ref_std: DataFrame,
    blocker: str,
    cfg,
    residue_rows: int | None = None,
    ref_prepped: DataFrame | None = None,
    ref_rows: int | None = None,
    ref_hist: DataFrame | None = None,
) -> DataFrame:
    """Candidate stage: every search record's max-score ref candidates
    (ties kept) within its block.  Returns (record_id, ref_id,
    fuzzy_score).

    ref_prepped / ref_rows / ref_hist: the prep_ref_for_block variant,
    its row count and its materialised (__bk, count) histogram —
    run_waterfall builds each once per (level, blocker) and reuses them
    across passes, so the salting stats job stops recomputing the ref
    aggregation once per pass (equivalence in
    blocking.salt_for_cogroup_adaptive)."""
    key = _KEYS[blocker]
    s = scorer.prep_search(search_std).filter(F.col(key) != "")
    s = s.withColumnRenamed(key, "__bk").drop(*(set(_KEYS.values()) - {key}))
    r = ref_prepped if ref_prepped is not None else (
        prep_ref_for_block(ref_std, blocker)
    )

    # Scoring is the reference's cdist re-expressed for Spark: cogroup
    # both sides by (block, salt) and cross-score INSIDE an Arrow UDF.
    # Strings cross the JVM↔Python boundary once per row — not once per
    # pair.  Salting is PER-BLOCK from the measured cross-product
    # histogram (tools/matcher_funcs.py:894-986's batch packer, done
    # right): a heavy block splits so no salt-group exceeds ~target
    # comparisons; small blocks stay whole.  The salting joins both
    # sides to the per-block stats of blocks present on BOTH sides, so
    # ref blocks nobody searches never ship (J3/X3) without a separate
    # semi-join.
    spark = s.sparkSession
    s_salted, r_salted, extra = blocking.salt_for_cogroup_adaptive(
        s.select("record_id", "__bk", *scorer.search_cols),
        r.select("ref_id", "__bk", *scorer.ref_cols),
        "__bk", blocking.salt_target_pairs_for(spark, cfg),
        ref_hist=ref_hist,
    )
    # pin the scoring stage's parallelism with an explicit NUMBERED
    # repartition on the grouping keys: it satisfies the cogroup's
    # required clustering (no second shuffle) and numbered repartitions
    # are exempt from AQE's byte-based coalescing, which would otherwise
    # serialise this compute-bound stage onto a couple of tasks.
    # Residue-scaled when the caller knows how much is left to match.
    npart = _util.scoring_npart(spark, residue_rows)
    # Pack blocks into ~4·npart hash buckets: the cogrouped scorer pays a
    # fixed Arrow/pandas dispatch per GROUP (~40 ms measured) against
    # sub-ms of kernel time for a typical postcode block, so per-block
    # groups make dispatch the dominant stage cost at every scale.  The
    # UDF splits each bucket back into blocks (blocking.block_slices) —
    # identical pair set.
    n_groups = _util.pack_group_count(spark, npart, residue_rows,
                                      ref_rows=ref_rows)
    s_salted, r_salted, keys = blocking.pack_groups(
        s_salted, r_salted, "__bk", extra, n_groups
    )
    s_salted = s_salted.repartition(npart, *[F.col(k) for k in keys])
    r_salted = r_salted.repartition(npart, *[F.col(k) for k in keys])
    cand = scorer.cross_score(s_salted, r_salted, keys, "__bk", cfg)
    return select.keep_max_score(cand, "record_id")


def blocked_pass(
    scorer: Scorer,
    search_std: DataFrame,
    ref_std: DataFrame,
    blocker: str,
    cfg,
    pass_name: str,
    broadcast_ref: bool | None = None,
    residue_rows: int | None = None,
    ref_prepped: DataFrame | None = None,
    ref_rows: int | None = None,
    ref_hist: DataFrame | None = None,
) -> DataFrame:
    """J1/J4 block → P1 or J5/P6 cross-score → J6 shortlist → D1-D8
    verify → P2 tie-break → W1 best.  Returns one row per attempted
    search record, its best candidate with decisions and
    match_method=pass_name (the field score is carried as fuzzy_score,
    per the reference's rename at tools/recordlinkage_funcs.py:219-221).

    broadcast_ref: run_waterfall threads its once-measured decision in;
    a DIRECT caller falls back to a fresh byte measurement — never an
    unconditional broadcast (a multi-GB ref side would OOM the
    executors)."""
    if broadcast_ref is None:
        broadcast_ref = _util.should_broadcast(ref_std, cfg.broadcast_max_bytes)
    shortlist = candidates(scorer, search_std, ref_std, blocker, cfg,
                           residue_rows, ref_prepped, ref_rows, ref_hist)
    # join the (now tiny) shortlist back to both sides for verification;
    # the ref side is dimension-like → broadcast when it fits (else a
    # shuffled equi-join on ref_id)
    shortlist = shortlist.join(
        search_std.drop(*_KEYS.values()), "record_id"
    )
    ref_back = ref_std.drop(*_KEYS.values())
    shortlist = shortlist.join(
        F.broadcast(ref_back) if broadcast_ref else ref_back, "ref_id"
    )
    shortlist = verify.add_decisions(
        shortlist, blocker,
        scorer.verify_limit(cfg, blocker),
        cfg.no_number_fuzzy_match_limit,
    )
    if scorer.wratio_tiebreak:
        shortlist = select.add_wratio_tiebreak(shortlist, scoring.ratio_udf)
    else:
        shortlist = shortlist.withColumn(
            "wratio_score", F.lit(None).cast("double")
        )
    best = select.best_match(shortlist, "record_id")
    return best.withColumn("match_method", F.lit(pass_name))
