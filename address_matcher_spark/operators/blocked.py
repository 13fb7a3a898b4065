"""One blocked pass for both scorers: block → Arrow cross-score →
shortlist → verify → best match (the reference's waterfall pass,
tools/matcher_funcs.py:988-1074).

The fuzzy passes (rapidfuzz token_set_ratio, pipeline.FUZZY) and the
field-wise passes (weighted per-field sum, fieldmatch.FIELD) run the SAME
pipeline; a `Scorer` record holds only what differs between them, and
`blocked_pass` is the one implementation of everything else.

One call scores one blocker or several in ONE plan (run_waterfall
passes both).  Each side holds a row per record and blocker with a
non-empty key, tagged in the column __blocker, and every step keys on
(record, blocker), so rows of different blockers never meet:

  candidates  per-blocker block-key select/rename, unioned → ref prep
              (prep_ref) → one of two plans, both calling the scorer's
              own pandas score(left, right) per blocker → per-record max:
    small     residue of at most SMALL_RESIDUE_ROWS records: collect it
              (bounded), collect ONCE the ref rows whose block key it
              holds (`__bk IN (...)` per blocker — one bucket of a
              reference bucketed by postcode; small_sides), score them
              in the driver and hand Spark the candidates and those ref
              rows as local relations: no Python worker runs
    salted    per-block grid salting (keeps only blocks both sides
              hold) → hash packing → numbered repartition → cogrouped
              Arrow cross-score
  tail        join-back to the search side and to the ref rows the
              scorer read, on (ref_id, __blocker) (small: the collected
              rows, both sides broadcast; salted: the materialised prep,
              by its measured broadcast decision) → D1-D7 decisions (the
              row's blocker's rules) → optional wratio tie-break, from
              the plain ratio the scorer returned with its tied
              candidates (__ratio) → W1 best

Why 127: _util.scoring_npart gives a residue below 128 rows ONE scoring
partition already, so the salted plan spends a salting-stats job, two
shuffles and full reference scans to feed a single task.  Not
partitioning at all is the faster plan there (SIGMOD'21, "To Partition,
or Not to Partition"); the residue-size A/B behind the bound is in
docs/PLANS.md ("One-record pass: the small candidate plan").  The ref
rows it collects are those the plan used to broadcast, so the driver
holds nothing the earlier plan did not.
"""

from __future__ import annotations

import functools
import operator
from dataclasses import dataclass
from typing import Callable

import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from address_matcher_spark.functions.cache import cached, columns
from address_matcher_spark.operators import (
    _util, blocking, select, verify,
)

# at most this many residue rows take the small plan (see module doc)
SMALL_RESIDUE_ROWS = 127
# a StructType, not a DDL string: each UDF built over a DDL string parses
# it in the JVM again
_CAND_SCHEMA = T.StructType([
    T.StructField("record_id", T.LongType()),
    T.StructField("ref_id", T.LongType()),
    T.StructField("fuzzy_score", T.DoubleType()),
    T.StructField("__blocker", T.StringType()),
    T.StructField("__ratio", T.DoubleType()),
])
_CAND_COLS = _CAND_SCHEMA.fieldNames()
_KEYS = {"Postcode": "postcode_search", "Street": "street_key"}
_BLOCK = ["__blocker", "__bk"]  # a block: the blocker and its key value
_RECORD = ["record_id", "__blocker"]  # one attempt: a record in one blocker


@dataclass(frozen=True)
class Scorer:
    """What differs between the fuzzy and the field-wise pass.

    search_cols / ref_cols:  columns each side ships into the scorer
                  besides its id and the block key.
    derive_search: () → {name: expression} for the search_cols derived
                  from the standardised side rather than read from it
                  (predicted LPI fields for the field scorer).
    score:        cfg → score(left, right), a pandas function from search
                  rows and ref rows (each carrying the block key as the
                  column __bk) to their (record_id, ref_id, fuzzy_score)
                  candidates, plus __ratio, the plain ratio (P2) of each
                  candidate tying its record's best score in the call,
                  where the tail's tie-break reads one; both candidate
                  plans call it.
    verify_limit: (cfg, blocker) → the D1 score threshold of the blocker
                  named `blocker`, a float.
    wratio_tiebreak: whether tied shortlists get the plain-ratio
                  tie-break (P2) from __ratio; the field pass carries a
                  null score.
    """

    search_cols: tuple[str, ...]
    ref_cols: tuple[str, ...]
    derive_search: Callable[[], dict[str, Column]]
    score: Callable[..., Callable[[pd.DataFrame, pd.DataFrame], pd.DataFrame]]
    verify_limit: Callable[..., float]
    wratio_tiebreak: bool


def prep_ref_for_block(ref_std: DataFrame, blocker: str) -> DataFrame:
    """Block-keyed reference variant: filter empty keys, rename the block
    key to __bk, drop the other key, dedup identical standardised rows
    (X7 — join-key fan-out guard), keeping the least ref_id of each
    (__bk, reference_mod_address) group: every read of a lazy prep keeps
    the same rows.  prep_ref unions them."""
    key = _KEYS[blocker]
    r = ref_std.filter(_has_key(key)).withColumnRenamed(key, "__bk")
    r = r.drop(*(set(_KEYS.values()) - {key}))
    rank, first = _least_ref_id()
    return r.withColumn("__rank", rank).filter(first).drop("__rank")


@cached
def _least_ref_id() -> tuple:
    # Spark plans rank 1 as a per-group limit, which runs before the
    # shuffle as dropDuplicates' partial aggregate did
    by_ref_id = Window.partitionBy("__bk", "reference_mod_address") \
        .orderBy("ref_id")
    return F.row_number().over(by_ref_id), F.col("__rank") == 1


@cached
def _has_key(key: str) -> Column:
    return F.col(key) != ""


@cached
def _tag(blocker: str) -> Column:
    return F.lit(blocker)


@cached
def _is_blocker(blocker: str) -> Column:
    return F.col("__blocker") == blocker


def _names(x) -> tuple[str, ...]:
    return (x,) if isinstance(x, str) else tuple(x)


def _union(frames) -> DataFrame:
    return functools.reduce(DataFrame.unionByName, frames)


def prep_ref(ref_std: DataFrame, blocker) -> DataFrame:
    """The ref prep of one blocker or several: prep_ref_for_block of
    each, tagged with its __blocker and unioned.  run_waterfall
    materialises both levels' preps in one job (each tagged with its
    __level) and threads each level's into every unit of that level; a
    lazy prep (bucketed reference) lets each blocker's key filter reach
    its own branch's ref scan, and the salted plan materialises it
    itself (candidates)."""
    return _union(
        prep_ref_for_block(ref_std, b).withColumn("__blocker", _tag(b))
        for b in _names(blocker)
    )


def _per_blocker(score):
    """The scorer over rows of several blockers: each blocker's rows are
    scored apart and their candidates tagged with it, so rows of
    different blockers never cross, even where a postcode key equals a
    street key.  The result has the columns of _CAND_SCHEMA, in order: a
    scorer returning no __ratio (the field scorer) gets a null one."""
    def run(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        parts = [
            score(rows, right[right["__blocker"] == b]).assign(__blocker=b)
            for b, rows in left.groupby("__blocker", sort=False)
        ]
        if not parts:
            return pd.DataFrame(columns=_CAND_COLS)
        return pd.concat(parts, ignore_index=True).reindex(columns=_CAND_COLS)
    return run


def _search_side(scorer: Scorer, search_std: DataFrame,
                 blockers: tuple) -> DataFrame:
    return _union(search_std.filter(_has_key(_KEYS[b])).select(
        *_search_branch(b, scorer)) for b in blockers)


def small_sides(
    scorer: Scorer,
    search_std: DataFrame,
    ref_prepped: DataFrame,
    blocker: str | tuple[str, ...],
) -> tuple[pd.DataFrame, DataFrame] | None:
    """The small plan's two inputs: the residue's search rows, collected
    (None when more than SMALL_RESIDUE_ROWS per blocker come back), and
    the frame the plan collects next, the ref prep (prep_ref) filtered to
    the block keys those rows hold.  Each blocker's key filter lands on
    its own union branch and pushes below its dedup into the scan: on a
    reference bucketed by postcode the Postcode branch reads the
    residue's buckets only."""
    blockers = _names(blocker)
    bound = len(blockers) * SMALL_RESIDUE_ROWS
    # coalesce(1) first: a bare limit is pushed into every union branch
    # as a LocalLimit, whose generated code names its counter uniquely,
    # so the class cache never hit and every request compiled fresh
    # classes
    left = _search_side(scorer, search_std, blockers).coalesce(1) \
        .limit(bound + 1).toPandas()
    if len(left) > bound:
        return None
    rk = ref_prepped.filter(functools.reduce(operator.or_, [
        _is_blocker(b) & F.col("__bk").isin(
            sorted(set(left.loc[left["__blocker"] == b, "__bk"])))
        for b in blockers
    ]))
    return left, rk


def candidates(
    scorer: Scorer,
    search_std: DataFrame,
    ref_std: DataFrame,
    blocker: str | tuple[str, ...],
    cfg,
    residue_rows: int | None = None,
    ref_prepped: DataFrame | None = None,
    ref_rows: int | None = None,
    ref_hist: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, bool, bool | None]:
    """Candidate stage: every search record's max-score ref candidates
    (ties kept) within its block of each blocker, as (record_id, ref_id,
    fuzzy_score, __blocker, __ratio); the ref prep rows the scorer read,
    which the tail joins the candidates back to on (ref_id, __blocker);
    whether the small plan ran; and whether those ref rows fit a
    broadcast (None: not measured).  The small plan's ref rows are the
    block-filtered prep it collected, as a local relation, so they fit.
    The salted plan's are the prep itself.  blocker: one name or a tuple
    of them.

    residue_rows: the search records left; at most SMALL_RESIDUE_ROWS
    selects the small plan, and it sizes the salted plan.  run_waterfall
    passes each unit's exact residue count.  A direct caller's figure may
    be wrong, so the small plan collects at most one row more than the
    bound (per blocker) and falls back to the salted plan when that many
    come back.

    ref_prepped / ref_rows / ref_hist: the prep_ref of these blockers,
    its row count and its materialised (__blocker, __bk, count)
    histogram — run_waterfall builds each once per level and reuses them
    across units, so the salting stats job stops recomputing the ref
    aggregation once per unit (equivalence in
    blocking.salt_for_cogroup_adaptive).  Without ref_prepped the salted
    plan materialises the prep it builds, as the salting stats, the
    scorer and the tail each read it: one job, whose observe() also
    counts it (ref_rows) and sums the row_bytes of the rows the tail
    joins back to against cfg.broadcast_max_bytes.  A given ref_prepped
    is not measured."""
    blockers = _names(blocker)
    r = prep_ref(ref_std, blockers) if ref_prepped is None else ref_prepped
    score = _per_blocker(scorer.score(cfg))

    small = None
    if residue_rows is not None and residue_rows <= SMALL_RESIDUE_ROWS:
        small = small_sides(scorer, search_std, r, blockers)
    if small is not None:
        # one read of the ref rows (one dedup, so one survivor per
        # duplicate), scored here; both local relations stay in the plan
        left, rk = small
        spark = search_std.sparkSession
        ref_tbl = rk.toArrow()
        right = ref_tbl.select(_ref_names(scorer.ref_cols)).to_pandas()
        cand = pa.Table.from_pandas(score(left, right), preserve_index=False)
        # coalesce(1): one partition, so the tail's windows need no exchange
        cand = spark.createDataFrame(cand, _CAND_SCHEMA).coalesce(1)
        return (select.keep_max_score(cand, _RECORD),
                spark.createDataFrame(ref_tbl, rk.schema), True, True)

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
    fits = None
    if ref_prepped is None:
        obs = Observation()
        back = tuple(c for c in r.columns if c != "__bk")
        r = r.observe(obs, *_prep_size(back)).localCheckpoint()
        ref_rows = int(obs.get["rows"])
        fits = int(obs.get["bytes"] or 0) <= cfg.broadcast_max_bytes
    s = _search_side(scorer, search_std, blockers)
    spark = s.sparkSession
    s_salted, r_salted, extra = blocking.salt_for_cogroup_adaptive(
        s, r.select(*_ref_branch(scorer.ref_cols)),
        _BLOCK, blocking.salt_target_pairs_for(spark, cfg),
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
        s_salted, r_salted, _BLOCK, extra, n_groups
    )
    keys = columns(tuple(keys))
    s_salted = s_salted.repartition(npart, *keys)
    r_salted = r_salted.repartition(npart, *keys)
    cand = (
        s_salted.groupBy(*keys).cogroup(r_salted.groupBy(*keys))
        .applyInPandas(score, _CAND_SCHEMA)
    )
    return select.keep_max_score(cand, _RECORD), r, False, fits


@cached
def _prep_size(back: tuple) -> tuple:
    """A prep's observe() aggregates: its rows, and the summed row_bytes
    of the columns `back` the tail joins back to."""
    return (F.count(F.lit(1)).alias("rows"),
            F.sum(_util.row_bytes(back)).alias("bytes"))


@cached
def _search_branch(blocker: str, scorer: Scorer) -> tuple:
    """One blocker's search-side select list: the record, its blocker
    tag and block key, the scorer's columns."""
    derived = scorer.derive_search()
    return (F.col("record_id"), F.lit(blocker).alias("__blocker"),
            F.col(_KEYS[blocker]).alias("__bk"),
            *(derived[c].alias(c) if c in derived else F.col(c)
              for c in scorer.search_cols))


def _ref_names(ref_cols: tuple) -> list[str]:
    return ["ref_id", *_BLOCK, *ref_cols]


def _ref_branch(ref_cols: tuple) -> tuple:
    return columns(tuple(_ref_names(ref_cols)))


@cached
def _method(blockers: tuple, names: tuple) -> Column:
    """The match_method naming each row's pass."""
    row_blocker = F.col("__blocker")
    method = F.lit(names[-1])
    for b, name in zip(blockers[:-1], names[:-1]):
        method = F.when(row_blocker == b, name).otherwise(method)
    return method


def blocked_pass(
    scorer: Scorer,
    search_std: DataFrame,
    ref_std: DataFrame,
    blocker: str | tuple[str, ...],
    cfg,
    pass_name: str | tuple[str, ...],
    broadcast_ref: bool | None = None,
    residue_rows: int | None = None,
    ref_prepped: DataFrame | None = None,
    ref_rows: int | None = None,
    ref_hist: DataFrame | None = None,
) -> DataFrame:
    """J1/J4 block → P1 or J5/P6 cross-score → J6 shortlist → D1-D8
    verify → P2 tie-break → W1 best.  Returns one row per attempted
    search record and blocker, its best candidate with decisions and
    match_method = that blocker's pass_name (the field score is carried
    as fuzzy_score, per the reference's rename at
    tools/recordlinkage_funcs.py:219-221).  blocker / pass_name: one
    name each, or a tuple of blockers and the tuple of their pass names.

    One join-back for both candidate plans, to the ref rows the scorer
    read, on (ref_id, __blocker).  The small plan's sides are bounded by
    its residue, so both broadcast and the one-partition shortlist keeps
    its partitioning: the windows below need no exchange.

    broadcast_ref: the salted plan's ref join-back decision.
    run_waterfall passes the one its ref prep job measured.  None: the
    decision candidates measured when it materialised the prep itself (a
    direct caller's, or a bucketed reference's); a ref_prepped passed
    without one gets no hint and Spark picks the join, never an
    unconditional broadcast (a multi-GB ref side would OOM the
    executors).  The small plan never reads it."""
    shortlist, ref_read, small, fits = candidates(
        scorer, search_std, ref_std, blocker, cfg, residue_rows,
        ref_prepped, ref_rows, ref_hist,
    )
    if small or broadcast_ref is None:
        broadcast_ref = fits
    search_back = search_std.drop(*_KEYS.values())
    # the prep minus its key holds ref_std's columns, a row per blocker
    ref_back = ref_read.drop("__bk")
    shortlist = shortlist.join(
        F.broadcast(search_back) if small else search_back, "record_id")
    shortlist = shortlist.join(
        F.broadcast(ref_back) if broadcast_ref else ref_back,
        ["ref_id", "__blocker"])
    blockers, names = _names(blocker), _names(pass_name)
    shortlist = verify.add_decisions(
        shortlist, blockers,
        tuple(scorer.verify_limit(cfg, b) for b in blockers),
        cfg.no_number_fuzzy_match_limit,
    )
    if scorer.wratio_tiebreak:
        shortlist = select.add_wratio_tiebreak(shortlist, _RECORD)
    else:
        # the field scorer returns no plain ratio: a null wratio_score
        shortlist = shortlist.withColumnRenamed("__ratio", "wratio_score")
    best = select.best_match(shortlist, _RECORD)
    return (best.withColumn("match_method", _method(blockers, names))
            .drop("__blocker"))
