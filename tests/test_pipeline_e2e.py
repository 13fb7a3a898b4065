"""End-to-end pipeline tests: pairwise F1 ≥ 0.99 on the labeled fixture
pairs (BASELINE.json north_rule), waterfall semantics, html→text
byte-identity, and the matched/unmatched split."""

from __future__ import annotations

import dataclasses
import re
import threading

import pandas as pd
import pytest
from pyspark.sql import functions as F

from address_matcher_spark import datagen
from address_matcher_spark.functions import extract as X
from address_matcher_spark.operators import blocked
from address_matcher_spark.operators import fieldmatch as FM
from address_matcher_spark.plans import pipeline as P
from address_matcher_spark.session import CODEGEN_CACHE_ENTRIES
from address_matcher_spark.sources.checkpoint import CheckpointStore


@pytest.fixture(scope="module")
def fixtures():
    return datagen.generate(datagen.Scale(n_ref=900, n_search=700))


@pytest.fixture(scope="module")
def sides(spark, fixtures):
    pages = spark.createDataFrame(fixtures["pages"])
    search_raw = P.search_from_pages(pages)
    cfg = P.MatchConfig()
    search = P.prepare_search(search_raw, cfg)
    ref = P.prepare_reference(spark.createDataFrame(fixtures["reference_addresses"]))
    out = {
        "search_min": P.standardise_search(search, False).cache(),
        "search_full": P.standardise_search(search, True).cache(),
        "ref_min": P.standardise_reference(ref, False).cache(),
        "ref_full": P.standardise_reference(ref, True).cache(),
        "cfg": cfg,
    }
    return out


def test_extract_text_byte_identity(spark, fixtures):
    pages = spark.createDataFrame(fixtures["pages"])
    diff = pages.select(
        X.extract_text(F.col("html")).alias("got"), F.col("text").alias("want")
    ).filter(F.col("got") != F.col("want"))
    assert diff.count() == 0


def test_search_from_pages_roundtrip(spark, fixtures):
    pages = spark.createDataFrame(fixtures["pages"])
    got = (
        P.search_from_pages(pages)
        .select("url", "address_line1", "postcode")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    want = (
        fixtures["search_addresses"][["url", "address_line1", "postcode"]]
        .sort_values("url")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


@pytest.fixture(scope="module")
def waterfall(sides):
    metrics: dict = {}
    res = P.run_waterfall(
        sides["search_min"], sides["search_full"],
        sides["ref_min"], sides["ref_full"], sides["cfg"], metrics=metrics,
    )
    return res.toPandas(), metrics


@pytest.fixture(scope="module")
def results(waterfall):
    return waterfall[0]


def test_waterfall_runs_on_the_calling_thread(sides, monkeypatch):
    """The 700-record run materialises the ref prep, and no unit runs
    beside a thread the waterfall started: every job it runs inherits the
    calling thread's Spark local properties."""
    before = {t.ident for t in threading.enumerate()}
    seen = []
    real_pass = blocked.blocked_pass

    def watching_pass(*a, **kw):
        seen.append({t.ident for t in threading.enumerate()})
        return real_pass(*a, **kw)

    monkeypatch.setattr(blocked, "blocked_pass", watching_pass)
    metrics: dict = {}
    P.run_waterfall(sides["search_min"], sides["search_full"],
                    sides["ref_min"], sides["ref_full"], sides["cfg"],
                    metrics=metrics)
    assert not metrics["passes"][0]["small_path"][0]
    assert seen and all(live == before for live in seen)


def test_small_plan_follows_true_residue(waterfall):
    """Each unit reports its TRUE residue as `residue_rows`, and its
    passes take the small candidate plan exactly when that residue fits
    blocked.SMALL_RESIDUE_ROWS.  A record keeps the row of its earliest
    full-match pass, so the records matched before a unit are the full
    matches whose method names an earlier pass."""
    res, metrics = waterfall
    methods = res.loc[res["full_match"], "match_method"]
    done = 0
    for unit in metrics["passes"]:
        residue = metrics["total_records"] - done
        assert unit["residue_rows"] == residue, unit
        fits = residue <= blocked.SMALL_RESIDUE_ROWS
        assert unit["small_path"] == [fits] * len(unit["small_path"]), unit
        done += int(methods.isin(unit["pass"].split("+")).sum())


def test_repeated_waterfall_compiles_nothing(spark, sides):
    """Spark's generated-class cache holds every class one waterfall
    needs, so running the same plans again compiles no new class (at
    Spark's default of 100 entries the second run recompiled ~190)."""
    assert (spark.conf.get("spark.sql.codegen.cache.maxEntries")
            == str(CODEGEN_CACHE_ENTRIES))
    runs = []
    for _ in range(2):
        metrics: dict = {}
        P.run_waterfall(sides["search_min"], sides["search_full"],
                        sides["ref_min"], sides["ref_full"], sides["cfg"],
                        metrics=metrics)
        runs.append(metrics)
    assert len(runs[1]["passes"]) == 4
    assert runs[1]["codegen_compiles"] == 0, [r["codegen_compiles"]
                                               for r in runs]


def test_repeated_small_run_compiles_nothing(spark, sides):
    """A run of at most blocked.SMALL_RESIDUE_ROWS records collects each
    unit's residue; run twice on the same side, the second run compiles
    no class (a bare limit over the blockers' union compiled fresh
    classes on every run)."""
    ids = sides["search_min"].select("record_id").orderBy("record_id") \
        .limit(100)
    small = [sides[k].join(ids, "record_id", "left_semi")
             for k in ("search_min", "search_full")]
    runs = []
    for _ in range(2):
        metrics: dict = {}
        P.run_waterfall(*small, sides["ref_min"], sides["ref_full"],
                        sides["cfg"], metrics=metrics)
        runs.append(metrics)
    assert all(all(p["small_path"]) for p in runs[1]["passes"])
    assert runs[1]["codegen_compiles"] == 0, [r["codegen_compiles"]
                                               for r in runs]


def _job_descriptions(sc) -> dict:
    """{job id: description} of every job in the live status store (kept
    with the UI disabled), once the listener bus has delivered them."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    out = {}
    for i in range(jobs.size()):
        job = jobs.apply(i)
        desc = job.description()
        out[job.jobId()] = desc.get() if desc.isDefined() else None
    return out


def test_waterfall_jobs_carry_unit_phase_tags(spark, sides):
    """Every job one run_waterfall call runs is described
    `<unit>/<phase>`, and the caller's own description is back after."""
    sc = spark.sparkContext
    before = max(_job_descriptions(sc), default=-1)
    sc.setJobDescription("caller")
    try:
        P.run_waterfall(sides["search_min"], sides["search_full"],
                        sides["ref_min"], sides["ref_full"], sides["cfg"])
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
    tags = {d for j, d in _job_descriptions(sc).items() if j > before}
    units = [f"{s}_{lv}" for s, _ in P.SCORERS for lv in P.LEVELS]
    allowed = {f"waterfall/{p}" for p in ("sides", "prep")} | {
        f"{u}/{p}" for u in units for p in ("residue", "score")}
    # the 700-record run takes every phase; the first unit has no residue
    want = allowed - {"fuzzy_min/residue"}
    assert tags == want, tags ^ want


def test_full_unit_exits_without_residue_job(spark, sides, waterfall,
                                             monkeypatch):
    """A one-record run that unit 1 full-matches ends after unit 1: its
    observed full-match count already says no record is left, so no
    `fuzzy_full/residue` job runs.  The rows equal those of a run forced
    through that residue job (which then finds it empty)."""
    res, _ = waterfall
    rid = int(res.loc[res["full_match"]
                      & (res["match_method"] == "fuzzy_min_pc"),
                      "record_id"].min())
    one = [sides[k].filter(F.col("record_id") == rid).localCheckpoint()
           for k in ("search_min", "search_full")]
    sc = spark.sparkContext

    def run():
        before = max(_job_descriptions(sc), default=-1)
        metrics: dict = {}
        out = P.run_waterfall(*one, sides["ref_min"], sides["ref_full"],
                              sides["cfg"], metrics=metrics).toPandas()
        tags = {d for j, d in _job_descriptions(sc).items() if j > before}
        for unit in metrics["passes"]:
            del unit["seconds"]
        return out, tags, metrics["passes"]

    out, tags, passes = run()
    monkeypatch.setattr(P, "_matched_all", lambda wins, rows: False)
    forced, forced_tags, forced_passes = run()
    assert "fuzzy_full/residue" not in tags, tags
    assert "fuzzy_full/residue" in forced_tags, forced_tags
    assert passes == forced_passes and len(passes) == 1
    assert len(out) == 1 and out["full_match"].all()
    pd.testing.assert_frame_equal(out, forced)


def test_pairwise_f1(results, fixtures, spark):
    """F1 over labeled pairs: prediction for (record, ref) = pipeline
    matched that record to that ref with full_match."""
    labeled = fixtures["labeled_pairs"]
    # map search record_id (datagen int) → pipeline record_id (xxhash64(url))
    url_map = fixtures["search_addresses"][["record_id", "url"]]
    hashed = (
        spark.createDataFrame(url_map)
        .select("record_id", F.xxhash64("url").alias("hashed_id"))
        .toPandas()
    )
    labeled = labeled.merge(hashed, on="record_id")
    matched = results[results["full_match"]][["record_id", "ref_id"]]
    pred_pairs = set(zip(matched["record_id"], matched["ref_id"]))

    tp = fp = fn = 0
    for r in labeled.itertuples():
        predicted = (r.hashed_id, r.ref_id) in pred_pairs
        if r.is_match and predicted:
            tp += 1
        elif not r.is_match and predicted:
            fp += 1
        elif r.is_match and not predicted:
            fn += 1
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    print(f"tp={tp} fp={fp} fn={fn} precision={precision:.4f} "
          f"recall={recall:.4f} f1={f1:.4f}")
    assert f1 >= 0.99, (tp, fp, fn)


def test_waterfall_one_row_per_record(results):
    assert results["record_id"].is_unique


def test_distractors_unmatched(results, fixtures, spark):
    """Search rows with postcodes absent from the reference never match."""
    labeled_ids = set(fixtures["labeled_pairs"]["record_id"])
    distractor_urls = set(
        fixtures["search_addresses"]
        .loc[~fixtures["search_addresses"]["record_id"].isin(labeled_ids), "url"]
    )
    matched_urls = set(results[results["full_match"]]["url"])
    assert not (matched_urls & distractor_urls)


def test_matched_uprn_carried(results):
    m = results[results["full_match"]]
    assert m["UPRN"].notna().all()
    assert m["fulladdress"].notna().all()


def test_street_field_pass_rescues_broken_postcode(spark):
    """O3 street-blocked field passes (ref tools/matcher_funcs.py:1425-1462):
    a record whose postcode is typo'd in the LAST TWO characters leaves
    every postcode block empty, and whose town is garbled enough that
    token_set_ratio < 85 fails all fuzzy passes (postcode- AND
    street-blocked) — only the Street-blocked FIELD pass can match it:
    the structured fields agree except the postcode's 1-char edit on a
    7-char postcode, scoring 100·(14.6 − 0.5/7)/14.6 ≈ 99.51, which
    clears the raised street cutoff (99.5,
    tools/recordlinkage_funcs.py:264-267) while close_postcode_match
    (drops the last 2 chars) still holds.  A 6-pass plan without
    field_min_st/field_full_st leaves this record unmatched."""
    ref = spark.createDataFrame([
        dict(
            ref_id=1, UPRN=9001,
            Organisation="", SaoText="", SaoStartNumber="",
            SaoStartSuffix="", SaoEndNumber="", SaoEndSuffix="",
            PaoText="", PaoStartNumber="12", PaoStartSuffix="",
            PaoEndNumber="", PaoEndSuffix="",
            Street="OAK ROAD", PostTown="WIMBLEDON", Postcode="SW19 7QD",
        ),
        dict(
            ref_id=2, UPRN=9002,
            Organisation="", SaoText="", SaoStartNumber="",
            SaoStartSuffix="", SaoEndNumber="", SaoEndSuffix="",
            PaoText="", PaoStartNumber="7", PaoStartSuffix="",
            PaoEndNumber="", PaoEndSuffix="",
            Street="ELM STREET", PostTown="CROYDON", Postcode="CR2 6XH",
        ),
    ])
    search = spark.createDataFrame([
        # postcode SW19 7QX vs ref SW19 7QD: blocks differ, close match holds
        dict(record_id=0, url="https://x.test/broken-pc",
             address_line1="12 OAK ROAD", address_line2="",
             town="XYZZYQWERTYTOWN", postcode="SW19 7QX"),
        # control: clean record, matched by pass 1
        dict(record_id=1, url="https://x.test/clean",
             address_line1="7 ELM STREET", address_line2="",
             town="CROYDON", postcode="CR2 6XH"),
    ])
    cfg = P.MatchConfig()
    s = P.prepare_search(search, cfg)
    r = P.prepare_reference(ref)
    res = P.run_waterfall(
        P.standardise_search(s, False), P.standardise_search(s, True),
        P.standardise_reference(r, False), P.standardise_reference(r, True),
        cfg,
    ).toPandas().set_index("url")

    clean = res.loc["https://x.test/clean"]
    assert clean["full_match"] and clean["match_method"] == "fuzzy_min_pc"
    broken = res.loc["https://x.test/broken-pc"]
    assert broken["full_match"], broken.to_dict()
    assert broken["match_method"] == "field_min_st", broken["match_method"]
    assert broken["UPRN"] == 9001


def test_early_exit_after_full_pass1(spark, monkeypatch):
    """X2 early-exit gate (ref tools/matcher_funcs.py:1013-1017): a corpus
    fully matched by level 1 must run exactly ONE LEVEL (one blocked_pass
    call scoring its pc + street blockers in one plan) and zero field
    passes — the remaining waterfall levels are skipped."""
    rows = [
        ("12", "OAK ROAD", "LONDON", "SW9 7QD"),
        ("7", "ELM STREET", "CROYDON", "CR2 6XH"),
        ("31", "MAPLE AVENUE", "PECKHAM", "SE15 4AB"),
    ]
    ref = spark.createDataFrame(
        [
            dict(
                ref_id=i, UPRN=1000 + i,
                Organisation="", SaoText="", SaoStartNumber="",
                SaoStartSuffix="", SaoEndNumber="", SaoEndSuffix="",
                PaoText="", PaoStartNumber=num, PaoStartSuffix="",
                PaoEndNumber="", PaoEndSuffix="",
                Street=street, PostTown=town, Postcode=pc,
            )
            for i, (num, street, town, pc) in enumerate(rows)
        ]
    )
    search = spark.createDataFrame(
        [
            dict(
                record_id=i, url=f"https://x.test/{i}",
                address_line1=f"{num} {street}", address_line2="",
                town=town, postcode=pc,
            )
            for i, (num, street, town, pc) in enumerate(rows)
        ]
    )
    cfg = P.MatchConfig()
    s = P.prepare_search(search, cfg)
    r = P.prepare_reference(ref)
    smin, sfull = P.standardise_search(s, False), P.standardise_search(s, True)
    rmin, rfull = P.standardise_reference(r, False), P.standardise_reference(r, True)

    seen = []
    real_pass = blocked.blocked_pass

    def counting_pass(scorer, *a, **kw):
        seen.append(scorer)  # one call per (scorer, level) unit
        if scorer is FM.FIELD:
            raise AssertionError("field pass must not run after early exit")
        return real_pass(scorer, *a, **kw)

    monkeypatch.setattr(blocked, "blocked_pass", counting_pass)

    res = P.run_waterfall(smin, sfull, rmin, rfull, cfg).toPandas()
    assert seen == [P.FUZZY]  # one LEVEL, no field pass
    assert res["full_match"].all() and len(res) == 3


def _blank_keys(df, value):
    """The frame with both block keys set to `value` (a string or None)."""
    lit = F.lit(value).cast("string")
    return df.withColumn("postcode_search", lit).withColumn("street_key", lit)


@pytest.mark.parametrize("residue", ["empty", "empty_key", "null_key"])
@pytest.mark.parametrize("blocker", ["Postcode", "Street"])
def test_small_pass_on_adversarial_residue(sides, residue, blocker):
    """Adversarial residues through the small candidate plan: no rows, or
    one row whose only block key is empty or null.  Each pass returns
    zero rows with the full result schema, for both scorers."""
    one = sides["search_min"].limit(1)
    res = {
        "empty": one.limit(0),
        "empty_key": _blank_keys(one, ""),
        "null_key": _blank_keys(one, None),
    }[residue].localCheckpoint()
    for scorer in (P.FUZZY, FM.FIELD):
        out = blocked.blocked_pass(scorer, res, sides["ref_min"], blocker,
                                   sides["cfg"], "adversarial",
                                   residue_rows=1)
        # the analyzed plan, as the optimiser may prune an empty branch:
        # no Python node, and the candidates are a local relation
        plan = out._jdf.queryExecution().analyzed().toString()
        assert not [n for n in ("MapInPandas", "ArrowEvalPython",
                                "BatchEvalPython", "FlatMapCoGroupsInPandas")
                    if n in plan], plan
        assert re.search(r"LocalRelation (<empty>, )?\[record_id#", plan), plan
        assert out.select(*P.RESULT_COLS).count() == 0


def test_waterfall_one_record_without_block_keys(sides):
    """One record with an empty postcode and an empty street key: no pass
    has a block to search, so the waterfall returns an empty frame with
    the result columns, not an error."""
    smin = _blank_keys(sides["search_min"].limit(1), "").localCheckpoint()
    sfull = _blank_keys(sides["search_full"].limit(1), "").localCheckpoint()
    metrics: dict = {}
    res = P.run_waterfall(smin, sfull, sides["ref_min"], sides["ref_full"],
                          sides["cfg"], metrics=metrics).toPandas()
    assert len(res) == 0
    assert set(P.RESULT_COLS) <= set(res.columns)
    # the prep job measures it at no extra job; no small unit reads it
    assert metrics["broadcast_ref"] is True
    assert all(all(p["small_path"]) for p in metrics["passes"])


_UNIT = (("Postcode", "Street"), ("unit_pc", "unit_st"))


def _small_unit(scorer, one, ref, cfg):
    """One waterfall unit's rows for a one-record residue (small plan),
    in pass order."""
    out = blocked.blocked_pass(scorer, one, ref, _UNIT[0], cfg, _UNIT[1],
                               residue_rows=1)
    return sorted(out.select("record_id", "ref_id", "match_method",
                             "fuzzy_score").collect(),
                  key=lambda r: r["match_method"])


@pytest.fixture(scope="module")
def one_record(sides):
    """A search record with both block keys that the fuzzy unit scores
    in both blockers."""
    rows = sides["search_min"].filter(
        (F.col("postcode_search") != "") & (F.col("street_key") != "")
    ).orderBy("record_id").limit(20).collect()
    for row in rows:
        one = sides["search_min"].filter(
            F.col("record_id") == row["record_id"]).localCheckpoint()
        got = _small_unit(P.FUZZY, one, sides["ref_min"], sides["cfg"])
        if {r["match_method"] for r in got} == set(_UNIT[1]):
            return one, got
    pytest.fail("no record scored in both blockers")


def test_small_unit_reads_duplicate_ref_rows_once(sides, one_record):
    """Two ref rows with the same (street_key, reference_mod_address)
    under different ref_ids: the prep's dedup keeps one of them, and
    the small plan reads the block-filtered prep once, so the unit's
    rows name one of the pair (two reads with their own dedup could keep
    different survivors, and the join-back would then lose the row)."""
    one, base = one_record
    rid = next(r["ref_id"] for r in base if r["match_method"] == "unit_st")
    twin = rid + 10**12
    ref = sides["ref_min"]
    ref = ref.unionByName(
        ref.filter(F.col("ref_id") == rid).withColumn("ref_id", F.lit(twin)))
    got = _small_unit(P.FUZZY, one, ref, sides["cfg"])
    assert [r["match_method"] for r in got] == [r["match_method"] for r in base]
    for g, b in zip(got, base):
        assert g["fuzzy_score"] == b["fuzzy_score"]
        assert g["ref_id"] == b["ref_id"] or (
            b["ref_id"] == rid and g["ref_id"] == twin), (got, base)


def _with_smaller_twin(ref, rid: int, twin: int):
    """ref with a copy of row `rid` under the smaller id `twin` appended
    last: a duplicate (street_key, reference_mod_address) group whose
    least ref_id is not the row met first."""
    return ref.unionByName(
        ref.filter(F.col("ref_id") == rid).withColumn("ref_id", F.lit(twin)))


@pytest.mark.parametrize("plan", ["small", "salted", "waterfall"])
def test_duplicate_ref_rows_keep_least_ref_id(spark, sides, one_record,
                                              plan, tmp_path, monkeypatch):
    """The prep's dedup keeps the least ref_id of a duplicate group, in
    the small plan, the salted plan (a direct blocked_pass, which
    materialises the prep it builds) and run_waterfall's materialised
    prep: the record's Street row names the twin, with the
    score it had, and no row names the twin's duplicate."""
    one, base = one_record
    rid = next(r["ref_id"] for r in base if r["match_method"] == "unit_st")
    twin = rid - 10**12
    rmin, rfull = (_with_smaller_twin(sides[k], rid, twin)
                   for k in ("ref_min", "ref_full"))
    cfg = sides["cfg"]
    if plan == "waterfall":
        # > SMALL_RESIDUE_ROWS records, so the prep job runs; stop after
        # unit 1 and read its commit
        rec = one.first()["record_id"]
        keep = ((F.pmod(F.col("record_id"), 3) == 0)
                | (F.col("record_id") == rec))
        searches = [sides[k].filter(keep)
                    for k in ("search_min", "search_full")]
        monkeypatch.setattr(P, "_matched_all", lambda wins, rows: True)
        store = CheckpointStore(str(tmp_path / "ckpt"), "dup")
        metrics: dict = {}
        P.run_waterfall(*searches, rmin, rfull, cfg, store=store,
                        metrics=metrics)
        rows = metrics["passes"][0]["residue_rows"]
        assert rows > blocked.SMALL_RESIDUE_ROWS
        prep = store.read(spark, "ref_prep").filter(
            F.col("ref_id").isin(rid, twin)).collect()
        assert {r["ref_id"] for r in prep} == {twin}
        assert {(r["__level"], r["__blocker"]) for r in prep} >= {
            (lv, "Street") for lv in P.LEVELS}
        unit = store.read(spark, "pass_fuzzy_min").filter(
            F.col("record_id") == rec)
        got = sorted(unit.select("record_id", "ref_id", "match_method",
                                 "fuzzy_score").collect(),
                     key=lambda r: r["match_method"])
        names = {"fuzzy_min_pc": "unit_pc", "fuzzy_min_st": "unit_st"}
        got = [(r["ref_id"], names[r["match_method"]], r["fuzzy_score"])
               for r in got]
    else:
        out = blocked.blocked_pass(P.FUZZY, one, rmin, _UNIT[0], cfg,
                                   _UNIT[1],
                                   residue_rows=1 if plan == "small" else None)
        got = sorted(((r["ref_id"], r["match_method"], r["fuzzy_score"])
                      for r in out.collect()), key=lambda r: r[1])
    want = [(twin if r["ref_id"] == rid else r["ref_id"], r["match_method"],
             r["fuzzy_score"]) for r in base]
    assert got == want, (got, want)


_PREP_WINDOW = re.compile(
    r"windowspecdefinition\(__bk#\d+, reference_mod_address#")


def test_salted_pass_materialises_its_own_prep(sides):
    """A direct salted blocked_pass over a lazy prep materialises it once:
    neither the scorer nor the join-back recomputes its dedup window.
    The same job measures the join-back's broadcast decision: with no
    decision passed, the pass broadcasts the ref rows when they fit
    cfg.broadcast_max_bytes and not otherwise."""
    cfg = sides["cfg"]

    def plan(cfg, broadcast_ref=None, ref_prepped=None):
        out = blocked.blocked_pass(
            P.FUZZY, sides["search_min"], sides["ref_min"], _UNIT[0], cfg,
            _UNIT[1], broadcast_ref, ref_prepped=ref_prepped)
        return out._jdf.queryExecution().optimizedPlan().toString()

    lazy = blocked.prep_ref(sides["ref_min"], _UNIT[0])
    assert _PREP_WINDOW.search(plan(cfg, False, lazy))
    measured = plan(cfg)
    assert not _PREP_WINDOW.search(measured), measured
    hints = {bc: plan(cfg, bc).count("strategy=broadcast")
             for bc in (False, True)}
    assert hints[True] == hints[False] + 1
    assert measured.count("strategy=broadcast") == hints[True]
    too_big = dataclasses.replace(cfg, broadcast_max_bytes=0)
    assert plan(too_big).count("strategy=broadcast") == hints[False]


@pytest.mark.parametrize("scorer", [P.FUZZY, FM.FIELD], ids=["fuzzy", "field"])
def test_small_unit_keeps_ids_above_2_53(sides, one_record, scorer):
    """Record and ref ids above 2**53 (not exact as float64) come back
    exact through the small plan's driver round trip: the collected
    residue and ref rows, the scorer and the two local relations."""
    one, _ = one_record
    big, off = 2**60 + 1, 2**60 + 1
    base = _small_unit(scorer, one, sides["ref_min"], sides["cfg"])
    got = _small_unit(
        scorer, one.withColumn("record_id", F.lit(big)),
        sides["ref_min"].withColumn("ref_id", F.col("ref_id") + off),
        sides["cfg"])
    assert base and got == [(big, r["ref_id"] + off, *r[2:]) for r in base]
