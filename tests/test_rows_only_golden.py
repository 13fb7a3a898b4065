"""Hash-pinned goldens for the rows-only driver queries.

These queries have no DuckDB oracle (fuzzy kernel / numpy RNN forward /
multimodal decode are not SQL-expressible), so the driver's correctness
gate only checks that they RUN — a regression in the kernels they
compose would pass silently.  The datagen and test parquet are
deterministic, so each query's sorted-normalized output hash is frozen
here (VERDICT r4 'Next round' #3); verified stable across local[8] and
local[16].  If a deliberate semantic change moves a hash, regenerate
with the block at the bottom of this file.
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.001"

# sha256 of the normalized (sorted columns, sorted rows, floats rounded
# to 6dp) CSV rendering, plus the expected row count
GOLDEN = {
    "er_pipeline_fuzzy_waterfall": (
        "91cd4958abb898a76a1a795a3cbf22dfebc374478cc5fabe6679509528725281", 184),
    "er_single_address_api": (
        "b321eb70c46982eef58fc7cf604b4e257879bb8b4f8449787e00860d2544e894", 1),
    "nn_field_parse": (
        "defedaeb70b298d81a1002426926ec4c556509b78bfe540e5b193fc46ed75623", 1500),
    "multimodal_decode_stub": (
        "2c4c5cfcf8c8d2935be1730192c69fff6840eeaf01a99f15156b45a7c42136e2", 500),
    "multimodal_thumbnails": (
        "f81ff125a3d6b0e3a051750062361ae34721a15804b95e992edcfd4bd8ebbb50", 60),
    "multimodal_frame_sample": (
        "4b17f4ff1191b0a5d396be1d5b952a46488534b5d017325d16cef6a4c0fef29a", 40),
}


def _normalise(df: pd.DataFrame) -> pd.DataFrame:
    """Same normalization as test_driver_contract (the driver's compare)."""
    df = df.copy()
    df = df[sorted(df.columns)]
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(6)
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype(bool)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif s.dtype == object:
            df[c] = s.where(pd.notna(s), None)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def frame_hash(df: pd.DataFrame) -> str:
    payload = _normalise(df).to_csv(index=False, float_format="%.6f").encode()
    return hashlib.sha256(payload).hexdigest()


def test_golden_covers_every_rows_only_query():
    """Every queries() entry WITHOUT an oracle must be pinned here — a new
    rows-only query without a golden would reopen the silent-regression
    gap this file closes."""
    rows_only = set(E.queries()) - set(E.oracle_sql())
    assert rows_only == set(GOLDEN), (
        f"rows-only queries {sorted(rows_only)} != pinned {sorted(GOLDEN)}"
    )


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_rows_only_output_pinned(spark, name):
    want_hash, want_rows = GOLDEN[name]
    got = E.queries()[name](spark, SF_DIR).toPandas()
    assert len(got) == want_rows, f"{name}: {len(got)} rows != {want_rows}"
    assert frame_hash(got) == want_hash, (
        f"{name}: output hash changed — if the change is a deliberate "
        "semantic fix, re-pin via the regen block in this file's docstring"
    )


def test_waterfall_clusters_composition_pinned(spark):
    """The real fuzzy-waterfall → cluster_records composition, pinned at
    the round-5 hash.  er_pipeline_clusters graduated to a full DuckDB
    oracle in round 6 (decisions-style pre-scored pairs through the same
    combine→cluster_records chain), so the driver no longer runs THIS
    composition — the pin keeps the waterfall→clusters path regression-
    guarded exactly as before."""
    from pyspark.sql import functions as F

    from address_matcher_spark.operators.cluster import cluster_records
    from address_matcher_spark.plans.driver_queries import _pipeline_rows_only

    res = _pipeline_rows_only(spark, SF_DIR)
    got = cluster_records(res.withColumn("url", F.lit(""))).toPandas()
    assert len(got) == 132
    assert frame_hash(got) == (
        "0084fa3da7250b8dc67ca6a31857b1959dc3790f005a3964bd8e74171f03dbdf"
    )


# Regenerate (after a DELIBERATE semantic change only):
#   python - <<'EOF'
#   import sys; sys.path.insert(0, "/root/repo")
#   import __spark_entry__ as E
#   from address_matcher_spark.session import get_spark
#   from tests.test_rows_only_golden import frame_hash, GOLDEN, SF_DIR
#   spark = get_spark(master="local[8]", shuffle_partitions=8)
#   for name in sorted(GOLDEN):
#       df = E.queries()[name](spark, SF_DIR).toPandas()
#       print(f'    "{name}": ("{frame_hash(df)}", {len(df)}),')
#   EOF
