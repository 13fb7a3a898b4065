"""Candidate-stage parity for both scorers of operators/blocked.py: the
cogrouped Arrow scorers (O(rows) transfer, packed buckets, per-block grid
salting) must select exactly the same per-record max-score candidates as
an explicit block join scored independently —
  * field scorer: the round-2 formula it replaced, JVM/pandas-UDF column
    expressions (reference semantics tools/recordlinkage_funcs.py:15-278);
  * fuzzy scorer: the scalar token_set_ratio kernel on every block pair,
    kept at or above fuzzy_match_limit (tools/fuzzy_match.py:88-94).
Both at the default salting and at a forced multi-way split, and through
the small-residue plan (and its fallback when the residue estimate
under-counts)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from address_matcher_spark import datagen
from address_matcher_spark import kernels as K
from address_matcher_spark.operators import blocked, scoring, select
from address_matcher_spark.operators import fieldmatch as FM
from address_matcher_spark.plans import pipeline as P


@pytest.fixture(scope="module")
def sides(spark):
    fx = datagen.generate(datagen.Scale(n_ref=300, n_search=200))
    cfg = P.MatchConfig()
    search = P.prepare_search(
        P.search_from_pages(spark.createDataFrame(fx["pages"])), cfg
    )
    ref = P.prepare_reference(spark.createDataFrame(fx["reference_addresses"]))
    smin = P.standardise_search(search, False)
    rmin = P.standardise_reference(ref, False)
    # pre-dedup the ref side so both paths see identical rows (each path's
    # internal dropDuplicates picks an arbitrary survivor otherwise)
    rmin = rmin.dropDuplicates(["postcode_search", "reference_mod_address"])
    return smin.localCheckpoint(), rmin.localCheckpoint(), cfg


def _block_pairs(s_std, r_std, blocker):
    """Explicit block equi-join of the two sides."""
    key = "postcode_search" if blocker == "Postcode" else "street_key"
    other = ({"postcode_search", "street_key"} - {key}).pop()
    s = (
        FM.predict_lpi_fields(s_std).filter(F.col(key) != "")
        .withColumnRenamed(key, "__bk").drop(other)
    )
    r = (
        r_std.filter(F.col(key) != "")
        .withColumnRenamed(key, "__bk").drop(other)
    )
    r = r.dropDuplicates(["__bk", "reference_mod_address"])
    return s.join(r, "__bk")


def _expected_fuzzy(s_std, r_std, blocker, cfg):
    """Scalar token_set_ratio on every block pair, cutoff, then the
    per-record max (ties kept)."""
    tsr = F.udf(lambda a, b: K.token_set_ratio(a or "", b or ""),
                DoubleType())
    pairs = _block_pairs(s_std, r_std, blocker).withColumn(
        "fuzzy_score",
        tsr(F.col("search_mod_address"), F.col("reference_mod_address")),
    ).filter(F.col("fuzzy_score") >= cfg.fuzzy_match_limit)
    return select.keep_max_score(pairs, "record_id").select(
        "record_id", "ref_id", "fuzzy_score"
    )


def _expected_field(s_std, r_std, blocker, cfg):
    """Round-2 path: explicit block join + column-expression weighted sum."""
    pairs = _block_pairs(s_std, r_std, blocker)

    def txt(c):
        x = F.lower(F.coalesce(c.cast("string"), F.lit("")))
        return F.when(x == "", F.lit(" ")).otherwise(x)

    score = F.lit(0.0)
    for c in FM.EXACT_COLUMNS:
        score = score + F.lit(FM.WEIGHTS[c]) * scoring.exact_similarity(
            F.lower(F.coalesce(F.col(f"p_{c}"), F.lit(""))),
            F.lower(F.coalesce(F.col(c).cast("string"), F.lit(""))),
        )
    for c in FM.TEXT_COLUMNS:
        if FM.WEIGHTS[c] == 0.0:
            continue
        score = score + F.lit(FM.WEIGHTS[c]) * scoring.jaro_winkler_udf(
            txt(F.col(f"p_{c}")), txt(F.col(c))
        )
    for c in FM.LEV_COLUMNS:
        score = score + F.lit(FM.WEIGHTS[c]) * scoring.levenshtein_similarity(
            txt(F.col(f"p_{c}")), txt(F.col(FM.REF_COL.get(c, c)))
        )
    pairs = pairs.withColumn(
        "fuzzy_score", F.round(100.0 * score / F.lit(FM.WEIGHT_SUM), 1)
    )
    return select.keep_max_score(pairs, "record_id").select(
        "record_id", "ref_id", "fuzzy_score"
    )


SCORERS = {
    "fuzzy": (P.FUZZY, _expected_fuzzy),
    "field": (FM.FIELD, _expected_field),
}


# case → (salt_target_pairs, residue_rows).  "small" scores a subset of
# at most blocked.SMALL_RESIDUE_ROWS records with its row count as the
# residue estimate, so the small (mapInPandas) plan runs; "underestimated"
# states a residue of 1 for the whole fixture, so the bounded collect
# finds too many rows and falls back to the salted cogroup.
CASES = {
    "default": (None, None),
    "salted": (50, None),
    "small": (None, "small"),
    "underestimated": (None, 1),
}


@pytest.mark.parametrize("case", list(CASES))
@pytest.mark.parametrize("blocker", ["Postcode", "Street"])
@pytest.mark.parametrize("scorer", sorted(SCORERS))
def test_candidates_parity(sides, scorer, blocker, case):
    """salt_target_pairs=50 forces every block above 50 pairs into a
    multi-way grid split: the per-group maxima plus the keep_max_score
    window must still give the global per-record max.  Both candidate
    plans must give the same candidates as the explicit block join."""
    smin, rmin, _ = sides
    salt_target_pairs, residue_rows = CASES[case]
    if residue_rows == "small":
        smin = smin.filter(F.pmod(F.col("record_id"), 3) == 0).localCheckpoint()
        residue_rows = smin.count()
        assert 0 < residue_rows <= blocked.SMALL_RESIDUE_ROWS
    cfg = P.MatchConfig(salt_target_pairs=salt_target_pairs)
    spec, expected = SCORERS[scorer]
    cand, _ = blocked.candidates(spec, smin, rmin, blocker, cfg,
                                 residue_rows)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert ("FlatMapCoGroupsInPandas" in plan) == (case != "small")
    got = {
        (r["record_id"], r["ref_id"], r["fuzzy_score"])
        for r in cand.collect()
    }
    want = {
        (r["record_id"], r["ref_id"], r["fuzzy_score"])
        for r in expected(smin, rmin, blocker, cfg).collect()
    }
    assert got == want and len(got) > 0
