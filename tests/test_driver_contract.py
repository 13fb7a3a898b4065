"""Local replica of the driver's correctness gate: run every queries()
entry at sf0.001 and compare against its oracle_sql() via DuckDB
(row count + order-insensitive value comparison, like CORRECTNESS_r{N})."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.001"


def _duck(sf_dir: str):
    con = duckdb.connect()
    from address_matcher_spark.plans.driver_queries import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _normalise(df: pd.DataFrame) -> pd.DataFrame:
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
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return df


ORACLE_NAMES = sorted(E.oracle_sql().keys())
ROWS_ONLY = sorted(set(E.queries()) - set(ORACLE_NAMES))


@pytest.fixture(scope="module")
def duck():
    return _duck(SF_DIR)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, duck, name):
    q = E.queries()[name]
    got = _normalise(q(spark, SF_DIR).toPandas())
    want = _normalise(duck.execute(E.oracle_sql()[name]).fetchdf())
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: {len(got)} vs {len(want)} rows"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                      check_exact=False, atol=1e-6)
    except AssertionError as exc:  # show a small diff sample
        merged = got.merge(want, how="outer", indicator=True)
        diff = merged[merged["_merge"] != "both"].head(10)
        raise AssertionError(f"{name} mismatch:\n{diff}") from exc


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    df = E.queries()[name](spark, SF_DIR)
    n = df.count()
    assert n >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.count()
    assert rows > 0
    assert df.filter("full_match").count() > 0


def test_frozen_harness_entry_points_resolve():
    """bench.py and perfbench/run.py call these pipeline entry points with
    fixed argument orders; each must still bind to them."""
    import inspect

    from address_matcher_spark.operators import fieldmatch
    from address_matcher_spark.plans import pipeline as P

    cfg = P.MatchConfig()
    s, r = object(), object()
    inspect.signature(P.fuzzy_pass).bind(
        s, r, "Postcode", cfg, "bench", broadcast_ref=True)
    inspect.signature(fieldmatch.field_pass).bind(
        s, r, "Postcode", cfg, "bench", broadcast_ref=True)
    inspect.signature(P.should_broadcast).bind(r, cfg.broadcast_max_bytes)
    inspect.signature(P.prep_ref_for_block).bind(r, "Postcode")


def test_register_views_restores_dropped_view(spark):
    """A memoised registration is skipped only while the catalog still
    holds every view: a dropped view (or a new session that reuses a
    collected one's id) is registered again."""
    from address_matcher_spark.plans.driver_queries import register_views

    register_views(spark, SF_DIR)
    spark.catalog.dropTempView("er_ref")
    register_views(spark, SF_DIR)
    assert spark.table("er_ref").limit(1).count() == 1
