"""One blocked pass for both scorers: block → Arrow cross-score →
shortlist → verify → best match (the reference's waterfall pass,
tools/matcher_funcs.py:988-1074).

The fuzzy passes (rapidfuzz token_set_ratio, pipeline.FUZZY) and the
field-wise passes (weighted per-field sum, fieldmatch.FIELD) run the SAME
pipeline; a `Scorer` record holds only what differs between them, and
`blocked_pass` is the one implementation of everything else:

  candidates  block-key select/rename → ref prep → one of two plans,
              both calling the scorer's own pandas score(left, right)
              → per-record max:
    small     residue of at most SMALL_RESIDUE_ROWS records: collect it
              (bounded), keep the ref rows whose block key it holds
              (`__bk IN (...)` — one bucket on a bucketed reference),
              score them in ONE mapInPandas task
    salted    per-block grid salting (keeps only blocks both sides
              hold) → hash packing → numbered repartition → cogrouped
              Arrow cross-score
  tail        join-back to both sides (small: broadcast sides bounded
              by the residue; salted: the measured broadcast decision)
              → D1-D7 decisions → optional wratio tie-break → W1 best

Why 127: _util.scoring_npart gives a residue below 128 rows ONE scoring
partition already, so the salted plan spends a salting-stats job, two
shuffles and full reference scans to feed a single task.  Not
partitioning at all is the faster plan there (SIGMOD'21, "To Partition,
or Not to Partition"); the residue-size A/B behind the bound is in
ROADMAP.md (item 5).
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from address_matcher_spark.operators import (
    _util, blocking, scoring, select, verify,
)

# at most this many residue rows take the small plan (see module doc)
SMALL_RESIDUE_ROWS = 127
_CAND_SCHEMA = "record_id long, ref_id long, fuzzy_score double"
_KEYS = {"Postcode": "postcode_search", "Street": "street_key"}


@dataclass(frozen=True)
class Scorer:
    """What differs between the fuzzy and the field-wise pass.

    prep_search:  search-side projection applied before blocking
                  (predicted LPI fields for the field scorer).
    search_cols / ref_cols:  columns each side ships into the scorer
                  besides its id and the block key.
    score:        cfg → score(left, right), a pandas function from search
                  rows and ref rows (each carrying the block key as the
                  column __bk) to their (record_id, ref_id, fuzzy_score)
                  candidates; both candidate plans call it.
    verify_limit: (cfg, blocker) → the D1 score threshold.
    wratio_tiebreak: whether tied shortlists get the plain-ratio
                  tie-break (P2); the field pass carries a null score.
    """

    prep_search: Callable[[DataFrame], DataFrame]
    search_cols: tuple[str, ...]
    ref_cols: tuple[str, ...]
    score: Callable[..., Callable[[pd.DataFrame, pd.DataFrame], pd.DataFrame]]
    verify_limit: Callable[..., float]
    wratio_tiebreak: bool


def prep_ref_for_block(ref_std: DataFrame, blocker: str) -> DataFrame:
    """Block-keyed reference variant: filter empty keys, rename the block
    key to __bk, drop the other key, dedup identical standardised rows
    (X7 — join-key fan-out guard).  There are only FOUR distinct variants
    per run ((min|full) × (postcode|street)); run_waterfall materialises
    them once and threads them into every pass instead of paying the
    dedup shuffle 8× (once per pass).  A bucketed reference or a small
    run keeps the prep lazy, so a pass's block-key filter reaches the
    ref scan."""
    key = _KEYS[blocker]
    r = ref_std.filter(F.col(key) != "").withColumnRenamed(key, "__bk")
    r = r.drop(*(set(_KEYS.values()) - {key}))
    return r.dropDuplicates(["__bk", "reference_mod_address"])


def _score_all(score, left: pd.DataFrame, batches):
    """mapInPandas body of the small plan: the whole block-filtered ref
    (one partition) against the collected residue."""
    right = list(batches)
    if right:
        yield score(left, pd.concat(right, ignore_index=True))


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
) -> tuple[DataFrame, DataFrame | None]:
    """Candidate stage: every search record's max-score ref candidates
    (ties kept) within its block, as (record_id, ref_id, fuzzy_score);
    and the block-filtered ref prep the small plan scored (None when the
    salted plan ran).

    residue_rows: the search rows left; at most SMALL_RESIDUE_ROWS
    selects the small plan, and it sizes the salted plan.  run_waterfall
    passes each unit's exact residue count.  A direct caller's figure may
    be wrong, so the small plan collects at most one row more than the
    bound and falls back to the salted plan when that many come back.

    ref_prepped / ref_rows / ref_hist: the prep_ref_for_block variant,
    its row count and its materialised (__bk, count) histogram —
    run_waterfall builds each once per (level, blocker) and reuses them
    across passes, so the salting stats job stops recomputing the ref
    aggregation once per pass (equivalence in
    blocking.salt_for_cogroup_adaptive)."""
    key = _KEYS[blocker]
    s = scorer.prep_search(search_std).filter(F.col(key) != "")
    s = s.withColumnRenamed(key, "__bk").drop(*(set(_KEYS.values()) - {key}))
    s = s.select("record_id", "__bk", *scorer.search_cols)
    r = ref_prepped if ref_prepped is not None else (
        prep_ref_for_block(ref_std, blocker)
    )
    score = scorer.score(cfg)

    if residue_rows is not None and residue_rows <= SMALL_RESIDUE_ROWS:
        left = s.limit(SMALL_RESIDUE_ROWS + 1).toPandas()
        if len(left) <= SMALL_RESIDUE_ROWS:
            # the key filter pushes below the prep's dedup into the scan:
            # on the reference bucketed by postcode it reads the residue's
            # buckets only
            rk = r.filter(F.col("__bk").isin(sorted(set(left["__bk"]))))
            cand = (
                rk.select("ref_id", "__bk", *scorer.ref_cols).coalesce(1)
                .mapInPandas(functools.partial(_score_all, score, left),
                             _CAND_SCHEMA)
            )
            return select.keep_max_score(cand, "record_id"), rk

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
        s, r.select("ref_id", "__bk", *scorer.ref_cols),
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
    cand = (
        s_salted.groupBy(*keys).cogroup(r_salted.groupBy(*keys))
        .applyInPandas(score, _CAND_SCHEMA)
    )
    return select.keep_max_score(cand, "record_id"), None


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

    broadcast_ref: the salted plan's ref join-back decision.
    run_waterfall threads its once-measured decision in; a DIRECT caller
    falls back to a fresh byte measurement — never an unconditional
    broadcast (a multi-GB ref side would OOM the executors).  The small
    plan never reads it."""
    shortlist, ref_small = candidates(
        scorer, search_std, ref_std, blocker, cfg, residue_rows,
        ref_prepped, ref_rows, ref_hist,
    )
    # join the (now tiny) shortlist back to both sides for verification
    search_back = search_std.drop(*_KEYS.values())
    if ref_small is not None:
        # small plan: both sides are bounded by the residue (its rows, the
        # ref rows of its blocks), so both broadcast and the one-partition
        # shortlist keeps its partitioning — the windows below need no
        # exchange.  The ref prep minus its key holds ref_std's columns.
        shortlist = shortlist.join(F.broadcast(search_back), "record_id")
        shortlist = shortlist.join(F.broadcast(ref_small.drop("__bk")),
                                   "ref_id")
    else:
        # the ref side is dimension-like → broadcast when it fits (else a
        # shuffled equi-join on ref_id)
        if broadcast_ref is None:
            broadcast_ref = _util.should_broadcast(
                ref_std, cfg.broadcast_max_bytes)
        ref_back = ref_std.drop(*_KEYS.values())
        shortlist = shortlist.join(search_back, "record_id")
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
        if ref_small is not None:
            # the Python tie-break reports no output partitioning; restore
            # the one-partition layout so best_match needs no exchange
            shortlist = shortlist.coalesce(1)
    else:
        shortlist = shortlist.withColumn(
            "wratio_score", F.lit(None).cast("double")
        )
    best = select.best_match(shortlist, "record_id")
    return best.withColumn("match_method", F.lit(pass_name))
