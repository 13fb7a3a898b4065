"""End-to-end pipeline tests: pairwise F1 ≥ 0.99 on the labeled fixture
pairs (BASELINE.json north_rule), waterfall semantics, html→text
byte-identity, and the matched/unmatched split."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from address_matcher_spark import datagen
from address_matcher_spark.functions import extract as X
from address_matcher_spark.operators import blocked
from address_matcher_spark.operators import fieldmatch as FM
from address_matcher_spark.plans import pipeline as P


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
    fully matched by level 1 must run exactly ONE LEVEL (its pc + street
    blockers run concurrently) and zero field passes — the remaining
    waterfall levels are skipped."""
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
        seen.append(scorer)  # list.append is atomic across pass threads
        if scorer is FM.FIELD:
            raise AssertionError("field pass must not run after early exit")
        return real_pass(scorer, *a, **kw)

    monkeypatch.setattr(blocked, "blocked_pass", counting_pass)

    res = P.run_waterfall(smin, sfull, rmin, rfull, cfg).toPandas()
    assert seen == [P.FUZZY, P.FUZZY]  # one LEVEL, no field pass
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
        # the analyzed plan: an empty residue optimises the scorer away
        plan = out._jdf.queryExecution().analyzed().toString()
        assert "MapInPandas" in plan
        assert "FlatMapCoGroupsInPandas" not in plan
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
    assert metrics["broadcast_ref"] is None
    assert metrics["broadcast_measure_sec"] == 0
    assert all(all(p["small_path"]) for p in metrics["passes"])
