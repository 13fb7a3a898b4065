"""Pairwise scoring operators — the only Python in the hot path, as
Arrow-batched vectorized pandas UDFs (never per-row Python UDFs).

Reproduces the reference's scorer surface:
  P1 token_set_ratio with score_cutoff (tools/fuzzy_match.py:88-94)
  P2 plain ratio tie-breaker (tools/fuzzy_match.py:296-308)
  P3 Jaro-Winkler per-field similarity (tools/recordlinkage_funcs.py:62-66)
  P4 Levenshtein — built-in Spark SQL ``levenshtein`` (no UDF needed)
  P5 exact compare — plain column equality

Scale notes: the kernels release no GIL but each Spark task runs its own
Python worker, so parallelism comes from partitioning (the reference used
``workers=-1`` inside one process; we shard across tasks instead —
tools/fuzzy_match.py:88 note in SURVEY §2.8/X5).  The batch kernels
deduplicate repeated strings within an Arrow batch, which mirrors the
reference's per-block cdist reuse of the small side.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from address_matcher_spark import kernels as K
from address_matcher_spark.operators.blocking import block_slices

FUZZY_MATCH_LIMIT = 85.0  # tools/constants.py:39
NO_NUMBER_FUZZY_MATCH_LIMIT = 100.0  # tools/constants.py:235


def token_set_scorer(cutoff: float = FUZZY_MATCH_LIMIT,
                     block_col: str = "__bk"):
    """J1, the cdist shape: returns ``score(left, right)``, the pandas
    function both candidate plans of operators/blocked.py call on a set
    of search rows (record_id, search_mod_address, block_col) and ref
    rows (ref_id, reference_mod_address, block_col).  It scores the full
    cross product of every block present on both sides
    (tools/fuzzy_match.py:88-94) and returns (record_id, ref_id,
    fuzzy_score) for the pairs >= cutoff.

    Tokenisation happens once per row and only pairs >= cutoff come back
    — for a 5k x 6k block that is ~30M in-memory comparisons but only
    thousands of result rows.

    block_col: the rows may hold many blocks (a packed cogroup bucket,
    blocking.pack_groups, or a whole small residue), so the real block
    key is a DATA column of this name; the scorer splits the rows back
    into blocks (blocking.block_slices) and never crosses rows from
    different blocks.
    """
    import numpy as np

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        import os
        import time

        prof_dir = os.environ.get("SPARK_GRAFT_PROF_DIR")
        t0 = time.perf_counter() if prof_dir else 0.0
        c0 = time.process_time() if prof_dir else 0.0
        empty = pd.DataFrame({"record_id": [], "ref_id": [], "fuzzy_score": []})
        if left.empty or right.empty:
            return empty
        lids = left["record_id"].to_numpy()
        rids = right["ref_id"].to_numpy()
        ltoks = [("" if s is None else s).split()
                 for s in left["search_mod_address"]]
        rtoks = [("" if s is None else s).split()
                 for s in right["reference_mod_address"]]
        tk = time.perf_counter() if prof_dir else 0.0
        pairs = 0
        parts = []
        for li, ri in block_slices(left[block_col], right[block_col]):
            pairs += len(li) * len(ri)
            il, jr, sc = K.cross_token_set_scores(
                [ltoks[i] for i in li], [rtoks[j] for j in ri], cutoff
            )
            if len(il):
                parts.append((lids[li][il], rids[ri][jr], sc))
        out = pd.DataFrame({
            "record_id": np.concatenate([p[0] for p in parts]),
            "ref_id": np.concatenate([p[1] for p in parts]),
            "fuzzy_score": np.concatenate([p[2] for p in parts]),
        }) if parts else empty
        if prof_dir:
            # scaling-residue instrumentation (scripts/profile_block_score
            # .py): per-call (start, call wall s, kernel wall s, pairs,
            # call CPU s).  wall vs CPU separates memory-stall slowdown
            # (on-core, inflates both) from OS descheduling under
            # oversubscription (inflates wall only).
            t1 = time.perf_counter()
            c1 = time.process_time()
            with open(f"{prof_dir}/{os.getpid()}.csv", "a") as fh:
                fh.write(
                    f"{t0},{t1 - t0},{t1 - tk},{pairs},"
                    f"{c1 - c0}\n"
                )
        return out

    return score


@F.pandas_udf(DoubleType())
def ratio_udf(left: pd.Series, right: pd.Series) -> pd.Series:
    """P2: plain Indel ratio (the reference's misnamed 'wratio' tie-break
    uses fuzz.ratio — tools/fuzzy_match.py:298)."""
    return pd.Series(
        K.ratio_batch(
            left.fillna("").to_numpy(dtype=object),
            right.fillna("").to_numpy(dtype=object),
        )
    )


@F.pandas_udf(DoubleType())
def jaro_winkler_udf(left: pd.Series, right: pd.Series) -> pd.Series:
    """P3: Jaro-Winkler similarity in [0,1] (jellyfish-compatible)."""
    return pd.Series(
        K.jaro_winkler_batch(
            left.fillna("").to_numpy(dtype=object),
            right.fillna("").to_numpy(dtype=object),
        )
    )


def levenshtein_similarity(left: Column, right: Column) -> Column:
    """P4: recordlinkage's normalized levenshtein similarity
    (1 - dist/max(len)) using the built-in JVM levenshtein."""
    maxlen = F.greatest(F.length(left), F.length(right))
    return F.when(maxlen == 0, F.lit(0.0)).otherwise(
        1.0 - F.levenshtein(left, right) / maxlen
    )


def exact_similarity(left: Column, right: Column) -> Column:
    """P5: exact compare with missing→0 (tools/recordlinkage_funcs.py:57-59)."""
    return F.when(left.isNull() | right.isNull(), F.lit(0.0)).otherwise(
        (left == right).cast("double")
    )
