"""Match-decision predicates D1-D8 (tools/fuzzy_match.py:233-318).

Operates on a candidate-pair DataFrame carrying, per pair:
  search_mod_address / reference_mod_address   (standardised strings)
  <field>_search / <field>_reference           (six extracted number fields)
  postcode (search side, original) / postcode_ref (reference side, original —
  renamed from the LPI `Postcode` so the pair frame is unambiguous under
  Spark's default caseSensitive=false)
  fuzzy_score                                   (token_set_ratio, cutoff'd)

All predicates are plain boolean column expressions — JVM-side, codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from address_matcher_spark.functions.cache import cached

FIELDS = [
    "property_number",
    "flat_number",
    "room_number",
    "block_number",
    "unit_number",
    "house_court_name",
]


def _nz(c: Column) -> Column:
    # the reference fillna("")s before comparing (tools/fuzzy_match.py:263):
    # blank == blank counts as a match
    return F.coalesce(c, F.lit(""))


def close_postcode_match(search_pc: Column, ref_pc: Column) -> Column:
    """D6: postcodes equal after lower/despace and dropping the last two
    chars (tools/fuzzy_match.py:284-285)."""

    def norm(c: Column) -> Column:
        x = F.regexp_replace(F.lower(c), r" ", "")
        return x.substr(F.lit(1), F.greatest(F.length(x) - 2, F.lit(0)))

    return norm(_nz(search_pc)) == norm(_nz(ref_pc))


@cached
def _decisions(blocker, fuzzy_match_limit, no_number_fuzzy_match_limit):
    """add_decisions' columns in three groups: each group reads only the
    columns before it, so each is one projection."""
    score = F.col("fuzzy_score")
    no_numbers = F.length(
        F.regexp_replace(F.col("search_mod_address"), r"[^0-9]", "")
    ) == 0
    if isinstance(blocker, str):
        row_blocker = F.lit(blocker)
        limit = fuzzy_match_limit
    else:
        # a tuple of blockers: each row's own is the __blocker column;
        # a blocker sharing the last one's limit needs no branch
        row_blocker = F.col("__blocker")
        last = fuzzy_match_limit[-1]
        limit = F.lit(last)
        for b, lim in zip(blocker[:-1], fuzzy_match_limit[:-1]):
            if lim != last:
                limit = F.when(row_blocker == b, lim).otherwise(limit)

    # D1/D2: threshold, raised to 100 for digit-free addresses
    fuzzy_ok = F.when(no_numbers, score >= no_number_fuzzy_match_limit).otherwise(
        score >= limit
    )
    # D3: street-blocked pass never matches digit-free addresses
    digit_free_street = no_numbers & (row_blocker == "Street")
    fuzzy_ok = F.when(digit_free_street, F.lit(False)).otherwise(fuzzy_ok)

    first = {"fuzzy_score_match": fuzzy_ok}
    for f in FIELDS:
        first[f"{f}_match"] = (
            _nz(F.col(f"{f}_search")) == _nz(F.col(f"{f}_reference")))
    full_number = F.lit(True)
    for f in FIELDS:
        full_number = full_number & F.col(f"{f}_match")
    second = {
        "full_number_match": full_number,
        "close_postcode_match": close_postcode_match(
            F.col("postcode"), F.col("postcode_ref")),
    }
    full = (F.col("fuzzy_score_match") & F.col("full_number_match")
            & F.col("close_postcode_match"))
    return first, second, full


def add_decisions(
    pairs: DataFrame,
    blocker: str | tuple[str, ...],
    fuzzy_match_limit: float | tuple[float, ...] = 85.0,
    no_number_fuzzy_match_limit: float = 100.0,
) -> DataFrame:
    """Append fuzzy_score_match / per-field *_match / full_number_match /
    close_postcode_match / full_match columns (D1-D7).

    blocker: the blocker's name, with one fuzzy_match_limit for every
    row; or a tuple of blocker names, with a tuple of their limits, for
    rows naming their own blocker in the column __blocker.  The columns
    are built once per process for each set of these plain values
    (functions/cache.py) and applied in three projections."""
    first, second, full = _decisions(
        blocker, fuzzy_match_limit, no_number_fuzzy_match_limit)
    return (pairs.withColumns(first).withColumns(second)
            .withColumn("full_match", full))
