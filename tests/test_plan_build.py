"""Plan builds reuse their fixed Column expressions (functions/cache.py).

Every py4j round trip from the building thread is counted at
`ClientServerConnection.send_command`.  A second build of the same plan
builds no expression again, so it costs only the round trips that apply
them, and it is the same plan as the first build."""

from __future__ import annotations

import threading

import pytest
from py4j.clientserver import ClientServerConnection

from address_matcher_spark import datagen
from address_matcher_spark.operators import blocked
from address_matcher_spark.plans import pipeline as P

# ROADMAP item 2's target for a unit build
UNIT_BUILD_CALLS = 400
# a full standardisation build: five stage projections and one select
STANDARDISE_BUILD_CALLS = 150
# a lookup's prepare_sides on a reference whose area set is memoised
# (76 measured on local[4]; rebuilding the area label instead adds one
# `isin` element per reference area)
PREPARE_SIDES_CALLS = 100


@pytest.fixture
def py4j_calls(monkeypatch):
    """count() runs fn and returns (its result, the py4j round trips the
    calling thread made meanwhile).  The py4j finalizer thread's frees
    are not counted."""
    calls = {"n": 0}
    thread = threading.get_ident()
    real = ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == thread:
            calls["n"] += 1
        return real(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)

    def count(fn, *args):
        n0 = calls["n"]
        out = fn(*args)
        return out, calls["n"] - n0

    return count


@pytest.fixture(scope="module")
def raw(spark):
    fx = datagen.generate(datagen.Scale(n_ref=300, n_search=240))
    return (P.search_from_pages(spark.createDataFrame(fx["pages"])),
            spark.createDataFrame(fx["reference_addresses"]))


@pytest.fixture(scope="module")
def prepared(raw):
    search, ref = raw
    return (P.prepare_search(search, P.MatchConfig()),
            P.prepare_reference(ref))


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_second_standardise_build_is_cheap(prepared, py4j_calls):
    s, _ = prepared
    first, _ = py4j_calls(P.standardise_search, s, True)
    second, calls = py4j_calls(P.standardise_search, s, True)
    assert calls <= STANDARDISE_BUILD_CALLS, calls
    assert second.semanticHash() == first.semanticHash()


@pytest.mark.parametrize("sname", ["fuzzy", "field"])
def test_second_unit_build_is_cheap(prepared, py4j_calls, sname):
    """One waterfall unit's blocked_pass on the salted plan, given its
    level's ref prep and histogram as run_waterfall gives them: building
    it runs no job, so every round trip counted is plan construction."""
    s, r = prepared
    smin = P.standardise_search(s, False)
    blockers = tuple(b for _, b in P.BLOCKERS)
    rmin = P.standardise_reference(r, False)
    prep = blocked.prep_ref(rmin, blockers)
    hist = prep.groupBy("__blocker", "__bk").count()
    scorer = dict(P.SCORERS)[sname]
    names = tuple(f"{sname}_min_{b}" for b, _ in P.BLOCKERS)

    def build():
        # 1,000 residue rows: above SMALL_RESIDUE_ROWS, so the salted plan
        return blocked.blocked_pass(
            scorer, smin, rmin, blockers, P.MatchConfig(), names, True,
            1000, prep, 1200, hist)

    first, _ = py4j_calls(build)
    second, calls = py4j_calls(build)
    assert calls <= UNIT_BUILD_CALLS, calls
    assert second.semanticHash() == first.semanticHash()
    plan = second._jdf.queryExecution().analyzed().toString()
    assert "FlatMapCoGroupsInPandas" in plan


def test_build_on_new_session_same_rows(spark, raw, prepared):
    """The cached Columns are unresolved expressions: built on another
    session of the same JVM, each side plan resolves them against its
    own input and returns the same rows."""
    other = spark.newSession()
    search, ref = (other.createDataFrame(df.toPandas()) for df in raw)
    s, r = P.prepare_search(search, P.MatchConfig()), P.prepare_reference(ref)
    for flag in (False, True):
        there = P.standardise_search(s, flag)
        assert there.sparkSession is other
        assert _rows(there) == _rows(P.standardise_search(prepared[0], flag))
        assert (_rows(P.standardise_reference(r, flag))
                == _rows(P.standardise_reference(prepared[1], flag)))


def test_second_prepare_sides_on_same_ref_runs_no_job(spark, raw, py4j_calls):
    """A lookup's side preparation (cofilter_ref=False) against the same
    reference frame again: the reference's area set and its label are
    memoised on that frame (cofilter.label_area_exclusions), so the call
    runs no job and only applies them."""
    search, ref = raw
    one = search.limit(1)
    cfg = P.MatchConfig()
    first, _ = P.prepare_sides(one, ref, cfg, cofilter_ref=False)
    sc = spark.sparkContext
    sc.setJobGroup("prepare-sides-again", "prepare-sides-again")
    try:
        (second, _), calls = py4j_calls(P.prepare_sides, one, ref, cfg,
                                        None, False)
        jobs = sc.statusTracker().getJobIdsForGroup("prepare-sides-again")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == []
    assert calls <= PREPARE_SIDES_CALLS, calls
    assert _rows(second) == _rows(first)
