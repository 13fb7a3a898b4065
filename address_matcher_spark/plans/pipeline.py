"""The end-to-end matching pipeline: the reference's 4-pass waterfall
(tools/matcher_funcs.py:988-1074) rebuilt as Spark job DAGs.

Flow per EP1 (SURVEY §3):
  pages → extract text (native exprs) → search side
  LPI reference → fulladdress assembly → reference side
  both → minimal + full standardisation (one DataFrame each, reused by all
  passes — the reference's four standing datasets, tools/matcher_funcs.py:752-772)
  waterfall: fuzzy(min) → fuzzy(full) → fieldwise(min) → fieldwise(full),
  each unit ONE plan scoring its residue postcode-blocked and
  street-blocked (passes <scorer>_<level>_pc and _st), each unit
  attempting only records the previous units failed (anti-join F1,
  tools/matcher_funcs.py:83-109), combined with the W2 window dedup.
  matched pairs → one cluster per reference record (operators/cluster.py).

Scale: blocking is a cogroup on the block key with measured per-block
grid salting (operators/blocking.py); scoring is Arrow-batched pandas
UDFs; everything else is codegen'd expressions and windows.
"""

from __future__ import annotations

import functools
import time as _time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from address_matcher_spark.functions import extract as X
from address_matcher_spark.functions import standardise as S
from address_matcher_spark.functions.cache import cached
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
    broadcast_max_bytes: int = 256 * 1024 * 1024  # explicit-broadcast ceiling
    run_field_passes: bool = True
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


@cached
def _search_prep(address_cols: tuple, postcode_col: str):
    """prepare_search's expressions, one group per projection (each group
    reads only the columns before it)."""
    cleaned = []
    for c in address_cols:
        col = F.coalesce(F.col(c).cast("string"), F.lit(""))
        col = F.regexp_replace(col, r"nan", "")
        col = F.regexp_replace(col, r"\s{2,}", " ")
        col = F.regexp_replace(col, r",", " ")
        cleaned.append(F.trim(col))
    full_address = F.trim(
        F.regexp_replace(F.concat_ws(" ", *cleaned), r"\s{2,}", " ")
    )
    non_postal = F.col("excluded") == "Excluded - non-postal address"
    return (
        {"full_address": full_address,
         "postcode": F.coalesce(F.col(postcode_col).cast("string"), F.lit(""))},
        F.length(F.trim(F.col("full_address"))) > 0,  # F2
        {"excluded": S.exclusion_flag(F.col("full_address")),
         "full_address_search": S.full_address_search(F.col("full_address"))},
        {"postcode_search": F.when(non_postal, F.lit("")).otherwise(
            S.postcode_search_key(F.col("postcode"))),
         "street_key": F.when(non_postal, F.lit("")).otherwise(
            S.extract_street_name(F.col("full_address_search")))},
    )


def prepare_search(df: DataFrame, cfg: MatchConfig) -> DataFrame:
    """T3/T4 + F2/F5/F6 + T7: clean/join address cols, exclusion flags,
    blocking key (tools/preparation.py:53-118, tools/standardise.py:19-36).

    The standardisation layer is ~150 regex ops per row; ensure_parallel
    keeps a small scan (one parquet split) off a single core.  A
    request-sized local input (a LocalRelation of at most
    blocked.SMALL_RESIDUE_ROWS rows) stays unpartitioned, so the optimizer
    folds these projections into it and a checkpoint runs no shuffle."""
    cleaned, non_empty, flags, keys = _search_prep(
        tuple(cfg.address_cols), cfg.postcode_col)
    df = _util.ensure_parallel(df)
    return (df.withColumns(cleaned).filter(non_empty)
            .withColumns(flags).withColumns(keys))


@cached
def _ref_prep():
    """prepare_reference's expressions: fulladdress, then the keys."""
    scrubbed = {}
    for c in S._LPI_COLS:
        col = F.coalesce(F.col(c).cast("string"), F.lit(""))
        col = F.regexp_replace(col, r"nan", "")
        col = F.regexp_replace(col, r"\.0", "")
        scrubbed[c] = col
    return (
        F.col("Postcode").isNotNull(),
        S.clean_fulladdress(S.create_full_address(scrubbed)),
        {"full_address_search": S.full_address_search(F.col("fulladdress")),
         "postcode_search": S.postcode_search_key(F.col("Postcode")),
         "street_key": F.upper(F.coalesce(F.col("Street"), F.lit("")))},
    )


def prepare_reference(df: DataFrame) -> DataFrame:
    """LPI columns → fulladdress (T5/T6) + blocking keys
    (tools/preparation.py:172-237)."""
    has_postcode, full, keys = _ref_prep()
    df = _util.ensure_parallel(df)
    return (df.filter(has_postcode).withColumn("fulladdress", full)
            .withColumns(keys))


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
    rows.  The co-filter's area collects run here, leaving `isin` filters:
    a side's plan is scan → filter → projections, which ensure_parallel
    only plans (it reads the optimized plan and the partition count) and
    a side checkpoint runs once.  Over a request's local rows the whole
    side folds to one LocalRelation.

    cofilter_ref=False keeps the FULL reference (no ref collect): required
    when the ref sides are materialised for cross-run reuse (bucketed
    tables) — the area co-filter depends on the current search corpus, and
    the ref direction is perf-only (full_match needs close_postcode_match,
    finer than area equality, so dropping other-area ref rows never
    changes a result); each pass reads only the reference blocks its
    residue holds instead — the salted plan's block stats join keeps only
    blocks both sides hold, and the small plan filters the ref to the
    residue's block keys (one bucket of a bucketed reference)."""
    args = (search_raw, ref_raw, cfg.postcode_col, "Postcode", cfg.address_cols)
    if cofilter_ref:
        search_raw, ref_raw, _ = cofilter.area_cofilter(*args)
    else:
        search_raw = cofilter.included(cofilter.label_area_exclusions(*args))
    if prior_results is not None:
        search_raw, _ = cofilter.exclude_previously_matched(
            search_raw, prior_results
        )
    return prepare_search(search_raw, cfg), prepare_reference(ref_raw)


@cached
def _side_cols(side: str) -> tuple:
    """The select list of a standardised side: its fields suffixed with
    `side` ("search" or "reference")."""
    fields = [F.col(f).alias(f"{f}_{side}") for f in verify.FIELDS]
    if side == "search":
        return (*map(F.col, ("record_id", "url", "full_address", "postcode",
                             "postcode_search", "street_key", "excluded",
                             "search_mod_address")), *fields)
    # LPI source columns ride along for the field-wise pass (J5 compares
    # them directly; strings only, cheap relative to the pair fan-out)
    # The original ref postcode is renamed to a CASE-DISTINCT name: search
    # rows carry `postcode`, and under Spark's default caseSensitive=false
    # `Postcode` vs `postcode` on the joined pair frame is AMBIGUOUS_REFERENCE.
    lpi = [c for c in S._LPI_COLS if c != "Postcode"]
    return (*map(F.col, ("ref_id", "UPRN", "fulladdress")),
            F.col("Postcode").alias("postcode_ref"),
            *map(F.col, ("postcode_search", "street_key",
                         "reference_mod_address")),
            *fields, *map(F.col, lpi))


def standardise_search(df: DataFrame, standardise_flag: bool) -> DataFrame:
    out = S.standardise_address_df(
        df, "full_address_search", "search_mod_address", standardise_flag
    )
    return out.select(*_side_cols("search"))


def standardise_reference(df: DataFrame, standardise_flag: bool) -> DataFrame:
    out = S.standardise_address_df(
        df, "full_address_search", "reference_mod_address", standardise_flag
    )
    return out.select(*_side_cols("reference"))


# ---------------------------------------------------------------------------
# the two scorers of the waterfall (operators/blocked.py runs both)
# ---------------------------------------------------------------------------


FUZZY = blocked.Scorer(
    search_cols=("search_mod_address",),
    ref_cols=("reference_mod_address",),
    derive_search=dict,
    # P1 token_set_ratio, with the D1 threshold pushed into the kernel:
    # only pairs at or above fuzzy_match_limit come back
    score=lambda cfg: scoring.token_set_scorer(cfg.fuzzy_match_limit),
    verify_limit=lambda cfg, blocker: cfg.fuzzy_match_limit,
    wratio_tiebreak=True,
)

# J1/J2 + P1 + J6 + D1-D7 + P2 + W1 (operators/blocked.py)
fuzzy_pass = functools.partial(blocked.blocked_pass, FUZZY)

# The waterfall as data: each (scorer, level) unit runs its Postcode- and
# Street-blocked passes in one plan, named <scorer>_<level>_<pc|st>.  The
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


@cached
def _row_count():
    """The observe() aggregate counting a frame's rows as `rows`."""
    return F.count(F.lit(1)).alias("rows")


@cached
def _level_tags(levels: tuple, back_cols: tuple) -> tuple:
    """Per level of the ref prep union: its observe() aggregates (its
    row count, and the summed row_bytes of the rows a salted unit joins
    back to, over back_cols) and the filter selecting its slice."""
    tag = F.col("__level")
    size = _util.row_bytes(back_cols)
    return tuple(((F.count(F.when(tag == lv, 1)).alias(lv),
                   F.sum(F.when(tag == lv, size)).alias(f"{lv}_bytes")),
                  tag == lv) for lv in levels)


@cached
def _unit_cols(names: tuple) -> tuple:
    """A unit's RESULT_COLS select list, its per-pass full-match counts
    (one observe), each pass's row filter and the full-match filter."""
    full = F.col("full_match")
    is_pass = tuple(F.col("match_method") == n for n in names)
    wins = tuple(F.count(F.when(full & p, 1)).alias(n)
                 for n, p in zip(names, is_pass))
    return tuple(map(F.col, RESULT_COLS)), wins, is_pass, full


def _matched_all(wins: list[int], residue_rows: int) -> bool:
    """Whether a unit full-matched every record of its residue, from its
    per-pass full-match counts.  Exact: best_match leaves at most one row
    per (record, blocker) and every winner is a residue record, so one
    blocker's count reaching the residue's row count means each residue
    record has a full match (and no record_id repeats)."""
    return max(wins) == residue_rows


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

    The reference is read only through its block-keyed prep: one job
    standardises both ref sides, preps both levels and materialises them
    as one frame (store key `ref_prep`), and its observe() measures the
    salted plan's broadcast decision against cfg.broadcast_max_bytes.

    ref_materialized=True: the ref sides are already durable — e.g.
    BUCKETED tables (sources/bucketing.ensure_bucketed_ref), whose scan
    carries a HashPartitioning that a store.write/localCheckpoint would
    destroy (every per-pass ref dedup/histogram would shuffle again).
    Their preps stay lazy: a salted unit materialises its level's prep
    itself and measures its broadcast decision in that job
    (blocked.candidates).

    metrics: pass a dict to collect per-stage run counters — wall seconds,
    residue rows, matched counts (per unit and per pass) and the
    candidate plan per pass (`small_path`), the broadcast decision
    (`broadcast_ref`, None when the prep job did not run), the seconds of
    the ref prep job (`prep_sec`) and the classes Janino compiled during
    the call (`codegen_compiles`).
    They are kept in process only, for ops dashboards and for profiling
    where waterfall time goes; a store.write records none of them.
    `codegen_compiles` reads Spark's JVM-wide compile counter, so it also
    counts classes that queries running beside the call compile, and it
    excludes the caller's final collect of the lazy result.

    One plan per unit: each (scorer, level) unit is ONE blocked_pass
    call scoring both BLOCKERS, with one checkpoint (store key
    `pass_<scorer>_<level>`).  The ref prep is one per level, shared by
    both scorers; both levels' preps are built by one job, before the
    first unit (store key `ref_prep`).

    Job tags: every job the call runs carries the Spark job description
    (`spark.job.description`) `<unit>/<phase>`: `waterfall/sides` and
    `waterfall/prep`, then per unit `<scorer>_<level>/residue` and
    `<scorer>_<level>/score` (the
    blocked_pass build and its checkpoint).  An event log read by
    scripts/stage_report.py turns them into a per-phase stage table.
    run_waterfall starts no thread, so every job it runs inherits the
    tag, and it restores the caller's own description on return.  The
    returned frame is lazy: the combine_passes jobs run when the caller
    collects it, under the caller's description.

    One exact residue per unit: every unit after the first materialises
    the records no earlier pass full-matched, counting them in the same
    job, and that count (`residue_rows`) decides the early exit, picks
    the candidate plan (the small plan at most blocked.SMALL_RESIDUE_ROWS
    records) and sizes the salted plan.  A unit that full-matches its
    whole residue (its observed per-pass counts say so exactly) exits
    before the next residue job.  The two search sides must therefore
    hold the same records, as standardise_search of one prepared frame
    does.  A run of at most SMALL_RESIDUE_ROWS records takes the small
    plan in every unit.  It still materialises the prep when the
    reference is not materialised: a lazy prep over the standardisation
    cascade is planned and run again by every unit (a 48-record batch
    call: 7.1–9.0 s of waterfall against 5.5–7.6 s with the prep
    materialised, docs/PLANS.md).

    Every fixed expression the call builds (the observe aggregates, the
    RESULT_COLS select, each pass's filter, and the operators' own) is
    built once per process (functions/cache.py); a call builds only what
    depends on its data."""
    cfg = cfg or MatchConfig()
    metrics = {} if metrics is None else metrics
    sc = search_min.sparkSession.sparkContext
    caller_tag = sc.getLocalProperty("spark.job.description")
    try:
        _t = _time.perf_counter
        _t0 = _t()
        compiles = search_min.sparkSession._jvm.org.apache.spark.metrics \
            .source.CodegenMetrics.METRIC_COMPILATION_TIME()
        compiles0 = compiles.getCount()

        def keep(df: DataFrame, key: str) -> DataFrame:
            # a durable checkpoint under `key` with a store, else a local one
            return (store.write(df, key) if store is not None
                    else df.localCheckpoint())

        # The search sides are reused by every unit.  Materialise them AND
        # cut their lineage: the standardisation layer is hundreds of
        # expressions, and without truncation every unit re-analyzes that
        # whole tree on the driver (~seconds per unit of pure planning).
        # Callers that already checkpointed/cached the sides pass
        # sides_materialized=True to skip the redundant second scan+write
        # (a store still commits them).  The record count rides the
        # search_min checkpoint (observe()).  The ref sides are read only
        # through their prep, below.
        sc.setJobDescription("waterfall/sides")
        if store is not None or not sides_materialized:
            obs = Observation()
            search_min = keep(search_min.observe(obs, _row_count()),
                              "side_search_min")
            total_records = int(obs.get["rows"])
            search_full = keep(search_full, "side_search_full")
        else:
            total_records = search_min.count()
        metrics["sides_sec"] = round(_t() - _t0, 3)
        sides = {"min": (search_min, ref_min), "full": (search_full, ref_full)}
        metrics["passes"] = []
        # One ref prep per level, shared by both scorers' units: the
        # reference's standing datasets, prepared once
        # (tools/matcher_funcs.py:752-772).  ONE job standardises the
        # reference, preps each level (blocked.prep_ref), tags each
        # level's prep with its __level and materialises the union
        # (store key `ref_prep`), plus one (__level, __blocker, __bk)
        # histogram every unit's salting stats reuse.  Its observe()
        # counts each level's rows (pack_group_count's ref-side memory
        # guard) and sums the bytes of the rows a salted unit joins back
        # to: the broadcast decision (X11, bytes not rows), at no extra
        # job.  A local checkpoint beat .cache() for a frame read ~3×
        # (docs/PLANS.md, round 6).  A bucketed ref keeps a lazy prep
        # (persisting would destroy its scan's exchange-free
        # HashPartitioning; a small unit's block filter reaches the
        # scan): no job here, and a salted unit materialises and measures
        # it itself (blocked.candidates).
        blockers = tuple(b for _, b in BLOCKERS)
        preps: dict = {}
        bc_ref = None
        tp = _t()
        if not ref_materialized:
            sc.setJobDescription("waterfall/prep")
            both = functools.reduce(DataFrame.unionByName, [
                blocked.prep_ref(sides[lv][1], blockers)
                .withColumn("__level", F.lit(lv)) for lv in LEVELS
            ])
            back = tuple(c for c in both.columns
                         if c not in ("__bk", "__level"))
            tags = dict(zip(LEVELS, _level_tags(LEVELS, back)))
            obs = Observation()
            both = keep(both.observe(obs, *[c for cs, _ in tags.values()
                                            for c in cs]), "ref_prep")
            bc_ref = max(int(obs.get[f"{lv}_bytes"] or 0)
                         for lv in LEVELS) <= cfg.broadcast_max_bytes
            hist = both.groupBy("__level", "__blocker", "__bk").count()
            hist = hist.localCheckpoint()
            preps = {lv: (both.filter(tags[lv][1]).drop("__level"),
                          int(obs.get[lv]),
                          hist.filter(tags[lv][1]).drop("__level"))
                     for lv in LEVELS}
        metrics["prep_sec"] = round(_t() - tp, 3)
        metrics["broadcast_ref"] = bc_ref

        scorers = SCORERS if cfg.run_field_passes else SCORERS[:1]
        units = [(sname, scorer, level)
                 for sname, scorer in scorers for level in LEVELS]

        # One plan per unit: blocked_pass scores both BLOCKERS against the
        # SAME residue, one row per (record, blocker) named by match_method.
        # Split by blocker in BLOCKERS order, its one checkpoint gives
        # combine_passes the passes of a strict sequential waterfall: a
        # record both blockers match keeps the Postcode row (pass_priority),
        # so a record the Street blocker can't improve keeps its Postcode
        # row, the reference's fall-back (tools/matcher_funcs.py:1455-1462).
        # The Street blocker does score records the Postcode one will win
        # (bounded: street blocks are the smaller fan-out).  The winner
        # counts ride the checkpoint via observe(), one per blocker.
        #
        # Early-exit gate (X2, tools/matcher_funcs.py:1013-1017): between
        # units, on the unit's exact residue — the side minus the records
        # earlier units full-matched, materialised and counted in one job.
        # It is a localCheckpoint in store mode too: nothing resumes from it.
        # A unit whose observe shows every residue record full-matched
        # (_matched_all) ends the loop before the next residue job: both
        # levels' search sides hold the same records (two standardisations
        # of one prepared frame), so that residue would be empty.
        passes: list[DataFrame] = []
        matched_union: DataFrame | None = None
        residue_rows = total_records
        for sname, scorer, level in units:
            tpass = _t()
            side = sides[level][0]
            if matched_union is None:
                # the first unit always runs, so an empty input still
                # yields a result frame with the full schema
                residue = side
            else:
                sc.setJobDescription(f"{sname}_{level}/residue")
                obs = Observation()
                residue = side.join(
                    matched_union, "record_id", "left_anti"
                ).observe(obs, _row_count())
                residue = residue.localCheckpoint()
                residue_rows = int(obs.get["rows"])
                if residue_rows == 0:
                    break  # every search record already has a full match
            if level not in preps:
                preps[level] = (blocked.prep_ref(sides[level][1], blockers),
                                None, None)
            ref_prepped, ref_rows, ref_hist = preps[level]
            names = tuple(f"{sname}_{level}_{b}" for b, _ in BLOCKERS)
            sc.setJobDescription(f"{sname}_{level}/score")
            out = blocked.blocked_pass(
                scorer, residue, sides[level][1], blockers, cfg, names,
                bc_ref, residue_rows, ref_prepped, ref_rows, ref_hist,
            )
            result_cols, win_counts, is_pass, full = _unit_cols(names)
            obs = Observation()
            out = keep(out.select(*result_cols).observe(obs, *win_counts),
                       f"pass_{sname}_{level}")
            wins = [int(obs.get[n]) for n in names]
            passes.extend(out.filter(p) for p in is_pass)
            winners = out.filter(full).select("record_id")
            metrics["passes"].append({
                "pass": "+".join(names),
                "residue_rows": int(residue_rows),
                "matched": sum(wins),
                "matched_per_pass": wins,
                "small_path": [
                    residue_rows <= blocked.SMALL_RESIDUE_ROWS
                ] * len(names),
                "seconds": round(_t() - tpass, 3),
            })
            if _matched_all(wins, residue_rows):
                break  # no record is left for the next unit
            matched_union = winners if matched_union is None else (
                matched_union.unionByName(winners)
            )

        metrics["total_records"] = int(total_records)
        metrics["matched"] = sum(p["matched"] for p in metrics["passes"])
        metrics["waterfall_sec"] = round(_t() - _t0, 3)
        metrics["codegen_compiles"] = int(compiles.getCount() - compiles0)
        return select.combine_passes(passes, key="record_id")
    finally:
        sc.setJobDescription(caller_tag)


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
