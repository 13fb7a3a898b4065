"""Pre-match co-filters and prior-results plumbing (F3/F4/J10/J11).

Reference semantics:
  F3  postcode-AREA co-filter         tools/matcher_funcs.py:567-606
  F4  previously-matched exclusion    tools/matcher_funcs.py:556-606
  J11 prior-results join              tools/matcher_funcs.py:527-531
  J10 join results back to orig df    tools/fuzzy_match.py:389-444

Scale notes (100 TB): the postcode-area domain is bounded (about 12k UK
postcode sectors however big the corpus), so each co-filter direction
collects its area set once (one aggregate query; the reference's once per
reference frame, label_area_exclusions) and filters the other side
with `isin`: no join, no shuffle of either fact table, and every later
reader of a filtered side runs only its own scan.  `isin` costs one py4j
call per area on the driver: 0.02 s for 100 areas, 0.2 s for 1,000 and
2.3 s for 11,000 (4-core Xeon container).  Prior-matched exclusion is a
key anti-join (one shuffle of ids, not payloads).  join_to_orig_df keeps
only full-match winners on the build side so the user's original table is
streamed once against a winner set no bigger than itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from address_matcher_spark.functions.cache import cached, cached_on_frame

INCLUDED = "Included in search"
EXCL_AREA = "Postcode area not found"
EXCL_LEN0 = "Address length 0"
EXCL_PRIOR = "Previously matched"
EXCLUSION_COL = "excluded_from_search"


def postcode_area(col: Column) -> Column:
    """strip → upper → despace → drop the last 2 chars
    (tools/matcher_funcs.py:571-572 — the inward code minus the final two
    characters, i.e. district + sector prefix)."""
    x = F.regexp_replace(F.upper(F.trim(F.coalesce(col, F.lit("")))), r"\s", "")
    return x.substr(F.lit(1), F.greatest(F.length(x) - 2, F.lit(0)))


def joined_address_length(address_cols) -> Column:
    """The reference's ``address_cols_joined`` length check
    (tools/matcher_funcs.py:561-565): fillna('') each address column,
    concatenate WITHOUT separator, strip, measure.  Stripping matches
    pandas str.strip() (= str.isspace()) exactly: (?U) makes Java's \\s
    the Unicode White_Space class (covers U+00A0, U+2000-200A, U+3000,
    ...), and the explicit \\x1c-\\x1f adds the file/group separators
    Python's isspace() strips but White_Space doesn't include.  Plain
    ASCII \\s left an address of non-breaking spaces counted non-empty
    here but empty (EXCL_LEN0) in the reference."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in address_cols]
    ws = r"(?U)^[\s\x1c-\x1f]+|[\s\x1c-\x1f]+$"
    return F.length(F.regexp_replace(F.concat(*parts), ws, ""))


@cached
def _area_of(pc: str) -> Column:
    return postcode_area(F.col(pc))


@cached
def _empty_address(address_cols: tuple) -> Column:
    return joined_address_length(address_cols) == 0


@cached
def _is_included() -> Column:
    return F.col(EXCLUSION_COL) == INCLUDED


@cached
def _area_evidence(pc: str) -> tuple:
    return _area_of(pc).alias("area"), F.length("area") > 3


def included(labeled: DataFrame) -> DataFrame:
    """The rows a labeling step left in the search, EXCLUSION_COL dropped."""
    return labeled.filter(_is_included()).drop(EXCLUSION_COL)


def _areas(df: DataFrame, pc: str) -> list[str]:
    """The distinct postcode areas of df[pc] longer than 3 characters
    (shorter ones don't count as ref evidence, tools/matcher_funcs.py:574),
    collected to the driver by one aggregate query."""
    area, long_enough = _area_evidence(pc)
    rows = df.select(area).filter(long_enough).distinct().collect()
    return [r.area for r in rows]


def label_area_exclusions(
    search: DataFrame,
    ref: DataFrame,
    search_pc: str = "postcode",
    ref_pc: str = "Postcode",
    address_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """F3 labeling half: append EXCLUSION_COL to the search side —
    'Postcode area not found' when the row's area is absent from the
    reference's collected area set.  When address_cols is given,
    zero-length joined addresses are labeled 'Address length 0', which is
    applied AFTER the area label in the reference and therefore takes
    precedence (tools/matcher_funcs.py:578-580).

    The reference's area set and the label Column over it are memoised
    on the `ref` frame object (functions/cache.cached_on_frame), so a
    frame's rows must stay fixed while it lives: a lookup service that
    passes the same reference frame with every request collects its
    areas once, and each later call runs no job."""
    label = _area_label(ref, search_pc, ref_pc,
                        None if address_cols is None else tuple(address_cols))
    return search.withColumn(EXCLUSION_COL, label)


@cached_on_frame
def _area_label(ref: DataFrame, search_pc: str, ref_pc: str,
                address_cols: tuple | None) -> Column:
    found = _area_of(search_pc).isin(_areas(ref, ref_pc))
    label = F.when(found, F.lit(INCLUDED)).otherwise(F.lit(EXCL_AREA))
    if address_cols:
        label = F.when(_empty_address(address_cols),
                       F.lit(EXCL_LEN0)).otherwise(label)
    return label


def area_cofilter(
    search: DataFrame,
    ref: DataFrame,
    search_pc: str = "postcode",
    ref_pc: str = "Postcode",
    address_cols: tuple[str, ...] | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """F3 both directions (tools/matcher_funcs.py:567-606): returns
    (search_kept, ref_kept, search_labeled).  search rows keep only areas
    present in the reference AND (when address_cols is given) non-empty
    joined addresses; the reference then keeps only areas present in the
    SURVIVING search rows.  Each direction collects a bounded area set and
    filters with `isin`: no join, no shuffle of either fact table."""
    labeled = label_area_exclusions(search, ref, search_pc, ref_pc, address_cols)
    kept = included(labeled)
    areas = _areas(kept, search_pc)
    ref_kept = ref.filter(_area_of(ref_pc).isin(areas))
    return kept, ref_kept, labeled


def exclude_previously_matched(
    search: DataFrame,
    prior_results: DataFrame,
    key: str = "record_id",
    match_col: str = "full_match",
) -> tuple[DataFrame, DataFrame]:
    """F4/J11 (tools/matcher_funcs.py:527-556): drop search rows whose key
    appears as a full match in a prior results table.  Returns
    (todo, labeled): todo is one left_anti join on the prior full-match
    keys (a key repeated in the prior table needs no distinct(): an anti
    or semi join never fans out); labeled carries EXCLUSION_COL =
    'Previously matched' / 'Included in search' for bookkeeping parity
    with the reference's pre_filter_search_df, as todo plus the semi-join
    of the excluded rows."""
    matched = prior_results.filter(F.col(match_col)).select(key)
    todo = search.join(matched, key, "left_anti")
    labeled = todo.withColumn(EXCLUSION_COL, F.lit(INCLUDED)).unionByName(
        search.join(matched, key, "left_semi")
        .withColumn(EXCLUSION_COL, F.lit(EXCL_PRIOR)))
    return todo, labeled


def join_prior_results(
    search: DataFrame, prior_results: DataFrame, key: str = "record_id"
) -> DataFrame:
    """J11 (tools/matcher_funcs.py:527-531): left-join a previous run's
    results onto the search frame so downstream stages can see existing
    matches.  Prior columns that collide with search columns are suffixed
    '_prior' (pandas-merge suffix semantics, Spark-safe)."""
    dup = {c for c in prior_results.columns if c in search.columns and c != key}
    prior = prior_results
    for c in dup:
        prior = prior.withColumnRenamed(c, f"{c}_prior")
    return search.join(prior, key, "left")


def join_to_orig_df(
    results: DataFrame,
    orig: DataFrame,
    key: str = "record_id",
    join_cols: tuple[str, ...] = ("UPRN",),
    matched_address_col: str = "fulladdress",
) -> DataFrame:
    """J10 (tools/fuzzy_match.py:389-444): append the match outcome to the
    user's ORIGINAL dataframe.  Winners only (full_match) build the join
    side; carried columns are renamed to the reference's result names and,
    when the original already has them (re-runs), the new value wins and
    the old fills the gaps (np.where semantics at fuzzy_match.py:421-424).
    Output = every original row, matched or not."""
    winners = (
        results.filter(F.col("full_match"))
        .select(
            F.col(key),
            F.col(matched_address_col).alias("ref_matched_address"),
            F.col("full_match").alias("matched_with_reference"),
            *[F.col(c) for c in join_cols],
        )
        .dropDuplicates([key])
    )
    carried = ["ref_matched_address", "matched_with_reference", *join_cols]
    overlap = [c for c in carried if c in orig.columns]
    w = winners
    for c in overlap:
        w = w.withColumnRenamed(c, f"{c}__new")
    out = orig.join(w, key, "left")
    for c in overlap:
        out = out.withColumn(c, F.coalesce(F.col(f"{c}__new"), F.col(c))).drop(
            f"{c}__new"
        )
    if "matched_with_reference" not in overlap:
        out = out.withColumn(
            "matched_with_reference",
            F.coalesce(F.col("matched_with_reference"), F.lit(False)),
        )
    return out
