"""Shortlisting & waterfall selection (W1-W3, J6) as window functions.

The reference does per-group max + merge + stable-sort + drop_duplicates
(tools/fuzzy_match.py:239-243,313-318,384-386;
tools/matcher_funcs.py:1489-1523).  Windows express the same semantics in
one shuffle each, with explicit deterministic tie-breaks (pandas relied on
stable sort over input order; we order by ref_id/pass priority instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from address_matcher_spark.functions.cache import cached


def _key(cols) -> tuple:
    # a cache key of one column name or a list of them
    return (cols,) if isinstance(cols, str) else tuple(cols)


@cached
def _max_score(group: tuple, score_col: str):
    mx = F.max(score_col).over(Window.partitionBy(*group))
    return mx, F.col(score_col) == F.col("__mx")


@cached
def _top_row(group: tuple, tiebreak_col: str):
    w = Window.partitionBy(*group).orderBy(
        F.desc("full_match"),
        F.desc("full_number_match"),
        F.desc("fuzzy_score"),
        F.desc_nulls_last("wratio_score"),
        F.asc(tiebreak_col),
    )
    return F.row_number().over(w), F.col("__rn") == 1


def keep_max_score(pairs: DataFrame, group_col: str | list[str],
                   score_col: str = "fuzzy_score") -> DataFrame:
    """J6/A1: keep every candidate tying the per-group max score
    (tools/fuzzy_match.py:239-243) — prunes before the expensive verify/
    tie-break stage without a self-join."""
    mx, is_max = _max_score(_key(group_col), score_col)
    return pairs.withColumn("__mx", mx).filter(is_max).drop("__mx")


def best_match(shortlist: DataFrame, group_col: str | list[str] = "record_id",
               tiebreak_col: str = "ref_id") -> DataFrame:
    """W1: top-1 per search record with the reference's tie-break cascade
    (tools/fuzzy_match.py:313-318,384-386): full_match desc,
    full_number_match desc, fuzzy_score desc, wratio_score desc, then a
    deterministic id tie-break."""
    rn, first = _top_row(_key(group_col), tiebreak_col)
    return shortlist.withColumn("__rn", rn).filter(first).drop("__rn")


def combine_passes(results: list[DataFrame], key: str = "record_id") -> DataFrame:
    """W2/W3: waterfall combine — union per-pass outputs, keep one row per
    record preferring full_match=true then the earliest pass
    (tools/matcher_funcs.py:1489-1523)."""
    priority, rn, first = _first_pass(_key(key), len(results))
    tagged = [
        df.withColumn("pass_priority", p) for p, df in zip(priority, results)
    ]
    allr = tagged[0]
    for df in tagged[1:]:
        allr = allr.unionByName(df, allowMissingColumns=True)
    return allr.withColumn("__rn", rn).filter(first).drop("__rn")


@cached
def _first_pass(key: tuple, n: int):
    w = Window.partitionBy(*key).orderBy(
        F.desc("full_match"), F.asc("pass_priority")
    )
    return (tuple(F.lit(i) for i in range(n)), F.row_number().over(w),
            F.col("__rn") == 1)


def add_wratio_tiebreak(shortlist: DataFrame, key=("record_id",)) -> DataFrame:
    """P2/X6: the plain-ratio tie-break, set ONLY for groups that are
    actually tied with full_number_match=true (tools/fuzzy_match.py:296-308).
    The ratio itself comes with the candidates: the scorer returns it as
    __ratio for every candidate tying its record's best score within a
    scoring call, a superset of the rows kept here (a candidate tying the
    global best ties the best of any call that saw it), so the tail runs
    no Python.

    The group keys lead with the record key (the keep_max_score/
    best_match partitioning) so this window's required clustering is
    satisfied by their exchange — all three windows share ONE shuffle.
    (The reference counts ties globally by address text; keying by
    record additionally only splits ties between distinct records that
    share identical address text, which cannot change any per-record
    selection.)"""
    ties, wratio = _wratio(tuple(key))
    return (shortlist.withColumn("__ties", ties)
            .withColumn("wratio_score", wratio).drop("__ties", "__ratio"))


@cached
def _wratio(key: tuple):
    w = Window.partitionBy(*key, "search_mod_address", "full_number_match",
                           "room_number_search", "fuzzy_score")
    wratio = F.when(
        F.col("full_number_match") & (F.col("__ties") > 1), F.col("__ratio"))
    return F.count(F.lit(1)).over(w), wratio
