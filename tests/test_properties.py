"""Property-based invariants (SURVEY §5.3-5.4): salting never changes the
pair set, waterfall results are invariant to checkpointing/resume, combine
is idempotent, matched+unmatched partitions the attempted set."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from address_matcher_spark import datagen
from address_matcher_spark import kernels as K
from address_matcher_spark.operators import blocking, select
from address_matcher_spark.plans import pipeline as P
from address_matcher_spark.sources.checkpoint import CheckpointStore


@settings(max_examples=150, deadline=None)
@given(st.text("ab c1", max_size=25), st.text("ab c1", max_size=25))
def test_token_set_ratio_symmetry(a, b):
    assert K.token_set_ratio(a, b) == pytest.approx(K.token_set_ratio(b, a))


@pytest.fixture(scope="module")
def sides(spark):
    fx = datagen.generate(datagen.Scale(n_ref=300, n_search=250))
    cfg = P.MatchConfig(run_field_passes=False)
    pages = spark.createDataFrame(fx["pages"])
    search = P.prepare_search(P.search_from_pages(pages), cfg)
    ref = P.prepare_reference(spark.createDataFrame(fx["reference_addresses"]))
    return {
        "smin": P.standardise_search(search, False).cache(),
        "sfull": P.standardise_search(search, True).cache(),
        "rmin": P.standardise_reference(ref, False).cache(),
        "rfull": P.standardise_reference(ref, True).cache(),
        "cfg": cfg,
    }


def test_salting_preserves_pair_set(sides):
    """Grid salting (blocking.salt_for_cogroup_adaptive) splits heavy
    blocks into (__si, __sj) cells; joining the salted sides on the block
    key plus both salts yields every plain block-join pair exactly once."""
    s = sides["smin"].select("record_id", F.col("postcode_search").alias("bk"))
    r = sides["rmin"].select("ref_id", F.col("postcode_search").alias("bk"))
    plain = [(x.record_id, x.ref_id) for x in s.join(r, "bk").collect()]
    s_salted, r_salted, extra = blocking.salt_for_cogroup_adaptive(
        s, r, "bk", target_pairs=50
    )
    cells = s_salted.join(r_salted, ["bk", *extra])
    salted = [(x.record_id, x.ref_id) for x in cells.collect()]
    assert sorted(salted) == sorted(plain) and len(plain) > 0
    # the target is small enough that some block really is split
    assert cells.filter((F.col("__si") > 0) | (F.col("__sj") > 0)).count() > 0


def _result_key(rows):
    return sorted((r.record_id, r.ref_id, r.full_match, r.fuzzy_score) for r in rows)


def test_waterfall_checkpointed_equals_plain(spark, sides, tmp_path):
    plain = P.run_waterfall(
        sides["smin"], sides["sfull"], sides["rmin"], sides["rfull"], sides["cfg"]
    ).collect()
    store = CheckpointStore(str(tmp_path / "ck"), "runA")
    ckpt = P.run_waterfall(
        sides["smin"], sides["sfull"], sides["rmin"], sides["rfull"],
        sides["cfg"], store=store,
    ).collect()
    assert _result_key(plain) == _result_key(ckpt)
    # lineage metadata written per unit: one checkpoint holds both passes
    assert store.committed("pass_fuzzy_min")
    assert store.meta("pass_fuzzy_min")["rows"] >= 0
    assert not store.committed("pass_fuzzy_min_pc")
    # both levels' ref preps are one commit
    assert store.committed("ref_prep")
    assert not store.committed("ref_prep_min")
    assert not store.committed("ref_prep_full")


def test_combine_passes_idempotent(spark, sides):
    res = P.run_waterfall(
        sides["smin"], sides["sfull"], sides["rmin"], sides["rfull"], sides["cfg"]
    ).drop("pass_priority")
    once = res.collect()
    twice = select.combine_passes([res, res], key="record_id").drop(
        "pass_priority"
    ).collect()
    assert _result_key(once) == _result_key(twice)


def test_matched_unmatched_partition(spark, sides):
    res = P.run_waterfall(
        sides["smin"], sides["sfull"], sides["rmin"], sides["rfull"], sides["cfg"]
    )
    attempted = res.count()
    matched = res.filter(F.col("full_match")).count()
    unmatched = res.filter(~F.col("full_match")).count()
    assert matched + unmatched == attempted
    assert res.select("record_id").distinct().count() == attempted
