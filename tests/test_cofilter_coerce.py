"""F3/F4/J10/J11 co-filters + S2/S3 schema coercion: reference semantics
(tools/matcher_funcs.py:404-606, tools/fuzzy_match.py:389-444) on Spark."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from address_matcher_spark.operators import cofilter as C
from address_matcher_spark.plans import pipeline as P
from address_matcher_spark.sources import coerce as SC


@pytest.fixture(scope="module")
def search_df(spark):
    rows = [
        (1, "12 oak road", "LONDON", "SW9 7QD"),     # area SW97 in ref
        (2, "7 elm street", "CROYDON", "CR2 6XH"),   # area CR26 in ref
        (3, "9 ash lane", "LEEDS", "LS1 4AB"),       # area absent from ref
        (4, "31 maple grove", "LONDON", "SW9 7XX"),  # same area as 1
    ]
    return spark.createDataFrame(
        [dict(record_id=i, address_line1=a, address_line2="", town=t,
              postcode=pc) for i, a, t, pc in rows]
    )


@pytest.fixture(scope="module")
def ref_df(spark):
    rows = [(10, "12", "OAK ROAD", "LONDON", "SW9 7QD"),
            (11, "7", "ELM STREET", "CROYDON", "CR2 6XH"),
            (12, "44", "KING HILL", "BRIXTON", "SW2 5SG")]  # area no search rows
    return spark.createDataFrame(
        [dict(ref_id=i, UPRN=100 + i, Organisation="", SaoText="",
              SaoStartNumber="", SaoStartSuffix="", SaoEndNumber="",
              SaoEndSuffix="", PaoText="", PaoStartNumber=n,
              PaoStartSuffix="", PaoEndNumber="", PaoEndSuffix="",
              Street=s, PostTown=t, Postcode=pc)
         for i, n, s, t, pc in rows]
    )


def test_area_cofilter_both_directions(search_df, ref_df):
    kept, ref_kept, labeled = C.area_cofilter(search_df, ref_df)
    assert {r["record_id"] for r in kept.collect()} == {1, 2, 4}
    labels = {r["record_id"]: r[C.EXCLUSION_COL] for r in labeled.collect()}
    assert labels[3] == C.EXCL_AREA and labels[1] == C.INCLUDED
    # ref keeps only areas surviving search rows hit: SW97 + CR26, not SW25
    assert {r["ref_id"] for r in ref_kept.collect()} == {10, 11}


def test_area_cofilter_len0_precedence(spark, ref_df):
    """'Address length 0' is applied AFTER the area label in the reference
    (matcher_funcs.py:578-580), so it overrides it, and length-0 rows are
    dropped from the kept side even when their area exists in the ref."""
    s = spark.createDataFrame(
        [dict(record_id=1, address_line1="12 oak road", address_line2="",
              town="LONDON", postcode="SW9 7QD"),
         dict(record_id=2, address_line1="  ", address_line2=None,
              town="", postcode="SW9 7QD"),    # blank addr, area IS in ref
         dict(record_id=3, address_line1=" ", address_line2="",
              town=None, postcode="LS1 4AB")]  # blank addr AND bad area
    )
    cols = ("address_line1", "address_line2", "town")
    kept, _, labeled = C.area_cofilter(s, ref_df, address_cols=cols)
    labels = {r["record_id"]: r[C.EXCLUSION_COL] for r in labeled.collect()}
    assert labels[1] == C.INCLUDED
    assert labels[2] == C.EXCL_LEN0
    assert labels[3] == C.EXCL_LEN0  # len-0 takes precedence over area
    assert {r["record_id"] for r in kept.collect()} == {1}


def test_len0_strip_matches_pandas_unicode(spark, ref_df):
    """ADVICE r4: pandas .strip() removes Unicode whitespace (and the
    \\x1c-\\x1f separators via str.isspace()) — an address of only
    non-breaking spaces / ideographic spaces / file separators must count
    as length 0, exactly like the reference's pandas path."""
    s = spark.createDataFrame(
        [dict(record_id=1, address_line1="\u00a0\u00a0", address_line2="",
              town="\u00a0", postcode="SW9 7QD"),          # NBSP only
         dict(record_id=2, address_line1="\u3000\u2003", address_line2=None,
              town="", postcode="SW9 7QD"),                # CJK + em space
         dict(record_id=3, address_line1="\x1c\x1d", address_line2="\x1f",
              town="", postcode="SW9 7QD"),                # file separators
         dict(record_id=4, address_line1="\u00a012 oak rd\u3000",
              address_line2="", town="", postcode="SW9 7QD")]  # real content
    )
    cols = ("address_line1", "address_line2", "town")
    _, _, labeled = C.area_cofilter(s, ref_df, address_cols=cols)
    labels = {r["record_id"]: r[C.EXCLUSION_COL] for r in labeled.collect()}
    # python-side oracle: the reference does "".join(cols).strip()
    assert labels[1] == C.EXCL_LEN0
    assert labels[2] == C.EXCL_LEN0
    assert labels[3] == C.EXCL_LEN0
    assert labels[4] == C.INCLUDED


def test_prior_exclusion_and_incremental_rerun(spark, search_df, ref_df):
    """F4/J11 done-criterion: a second run attempts ONLY the residue."""
    prior = spark.createDataFrame(
        [dict(record_id=1, full_match=True),
         dict(record_id=2, full_match=False)]  # not a full match → retried
    )
    cfg = P.MatchConfig()
    search, ref = P.prepare_sides(search_df, ref_df, cfg, prior_results=prior)
    attempted = {r["record_id"] for r in search.select("record_id").collect()}
    # 3 dropped by area filter, 1 dropped as previously matched
    assert attempted == {2, 4}
    assert ref.count() == 2  # SW25 block pruned (no surviving search rows)


@pytest.fixture
def parquet_sides(spark, search_df, ref_df, tmp_path):
    """The fixtures as parquet scans: a LocalRelation lets the optimizer
    fold the co-filter's aggregates away, which would hide their jobs."""
    search = search_df.withColumn(
        "url", F.concat(F.lit("record://"), F.col("record_id").cast("string")))
    search.write.parquet(str(tmp_path / "search"))
    ref_df.write.parquet(str(tmp_path / "ref"))
    return (spark.read.parquet(str(tmp_path / "search")),
            spark.read.parquet(str(tmp_path / "ref")))


def _plan_nodes(df) -> list[str]:
    tree = df._jdf.queryExecution().optimizedPlan().treeString()
    return [line.lstrip(" :+-|").split(" ")[0] for line in tree.splitlines()]


def test_prepared_sides_plan_no_join_or_aggregate(parquet_sides):
    """The co-filter collects its area sets and leaves `isin` filters, so
    neither prepared side's plan joins or aggregates (ensure_parallel's
    round-robin repartition is allowed): nothing re-runs the co-filter."""
    search, ref = P.prepare_sides(*parquet_sides, P.MatchConfig())
    for side in (search, ref):
        nodes = _plan_nodes(side)
        assert not [n for n in nodes if n.startswith(("Join", "Aggregate"))], nodes
    assert {r["record_id"] for r in search.collect()} == {1, 2, 4}
    assert {r["ref_id"] for r in ref.collect()} == {10, 11}


def test_side_checkpoint_runs_two_jobs(spark, parquet_sides):
    """A localCheckpoint of each standardised side runs only its own scan,
    round-robin repartition and projections: at most 2 jobs (the shuffle
    map stage and the result stage), none re-running the co-filter."""
    sc = spark.sparkContext
    search, ref = P.prepare_sides(*parquet_sides, P.MatchConfig())
    sides = {
        "search_min": P.standardise_search(search, False),
        "search_full": P.standardise_search(search, True),
        "ref_min": P.standardise_reference(ref, False),
        "ref_full": P.standardise_reference(ref, True),
    }
    jobs = {}
    try:
        for name, side in sides.items():
            group = f"side-checkpoint-{name}"
            sc.setJobGroup(group, group)
            side.localCheckpoint()
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert all(1 <= n <= 2 for n in jobs.values()), jobs


def _checkpoint_jobs(sc, df, group: str) -> int:
    """The number of jobs a localCheckpoint of df runs."""
    try:
        sc.setJobGroup(group, group)
        df.localCheckpoint()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_prior_exclusion_is_one_anti_join(spark, parquet_sides, tmp_path):
    """F4 with a prior results table (one id twice, one non-full match):
    the kept search rows are one left_anti join on the prior full-match
    ids, with no aggregate in the plan, so a standardised side's
    checkpoint runs at most one job more than without prior results
    (the ids' side of the join), and keeps the same rows."""
    sc = spark.sparkContext
    spark.createDataFrame(
        [dict(record_id=1, full_match=True), dict(record_id=1, full_match=True),
         dict(record_id=2, full_match=False)]
    ).write.parquet(str(tmp_path / "prior"))
    prior = spark.read.parquet(str(tmp_path / "prior"))
    cfg = P.MatchConfig()
    search, _ = P.prepare_sides(*parquet_sides, cfg, prior_results=prior)
    nodes = _plan_nodes(search)
    assert not [n for n in nodes if n.startswith("Aggregate")], nodes
    assert [n for n in nodes if n.startswith("Join")] == ["Join"], nodes
    base, _ = P.prepare_sides(*parquet_sides, cfg)
    jobs = [_checkpoint_jobs(sc, P.standardise_search(side, False), group)
            for side, group in ((base, "no-prior"), (search, "prior"))]
    assert jobs[1] <= jobs[0] + 1, jobs
    assert {r["record_id"] for r in search.collect()} == {2, 4}
    _, labeled = C.exclude_previously_matched(base, prior)
    assert sorted(labeled.select("record_id", C.EXCLUSION_COL).collect()) == [
        (1, C.EXCL_PRIOR), (2, C.INCLUDED), (4, C.INCLUDED)]


def _request(spark, search_df, ids=(1,)):
    """Search rows as a lookup request builds them: a pandas frame, which
    createDataFrame turns into a LocalRelation."""
    pdf = search_df.toPandas()
    pdf["url"] = "record://" + pdf["record_id"].astype(str)
    return spark.createDataFrame(pdf[pdf["record_id"].isin(ids)])


def test_request_side_folds_to_one_local_relation(spark, search_df, ref_df):
    """A one-row request is left unpartitioned, so the optimizer folds
    the co-filter and the whole standardisation cascade into one
    LocalRelation: no Exchange, and its checkpoint is one job."""
    s, _ = P.prepare_sides(_request(spark, search_df), ref_df,
                           P.MatchConfig(), cofilter_ref=False)
    side = P.standardise_search(s, True)
    assert _plan_nodes(side) == ["LocalRelation"]
    assert "Exchange" not in side._jdf.queryExecution().executedPlan().toString()
    assert _checkpoint_jobs(spark.sparkContext, side, "folded-request") == 1
    assert [r["record_id"] for r in side.collect()] == [1]


def test_larger_or_scanned_inputs_stay_partitioned(spark, tmp_path,
                                                   monkeypatch):
    """Above SMALL_RESIDUE_ROWS, or read from a file, an input keeps the
    partition-count rule.  A local scan already splits its rows over up
    to defaultParallelism partitions, so the row bound only shows where
    the cluster has more slots than the relation has rows: with 256
    slots, 128 local rows plan RoundRobinPartitioning(256) and 127 stay
    one LocalRelation.  A single-split parquet input plans a round-robin
    repartition to defaultParallelism."""
    from pyspark import SparkContext

    from address_matcher_spark.operators import _util, blocked

    rows = blocked.SMALL_RESIDUE_ROWS + 1

    def local(n):
        return spark.createDataFrame(pd.DataFrame({"a": range(n)}))

    def executed(df):
        return _util.ensure_parallel(df)._jdf.queryExecution() \
            .executedPlan().toString()

    dp = spark.sparkContext.defaultParallelism
    local(rows).coalesce(1).write.parquet(str(tmp_path / "one_split"))
    scan = spark.read.parquet(str(tmp_path / "one_split"))
    assert scan.rdd.getNumPartitions() == 1
    assert f"RoundRobinPartitioning({dp})" in executed(scan)
    monkeypatch.setattr(SparkContext, "defaultParallelism",
                        property(lambda sc: 256))
    assert "RoundRobinPartitioning(256)" in executed(local(rows))
    assert _plan_nodes(_util.ensure_parallel(local(rows - 1))) == [
        "LocalRelation"]


@pytest.mark.parametrize("level", [False, True])
def test_folded_and_partitioned_sides_equal(spark, search_df, ref_df,
                                            tmp_path, level):
    """The same request rows standardised as a folded LocalRelation and
    as a partitioned parquet scan give the same side at both levels."""
    cfg = P.MatchConfig()
    local = _request(spark, search_df, ids=(1, 2, 3, 4))
    local.write.parquet(str(tmp_path / "request"))
    scan = spark.read.parquet(str(tmp_path / "request"))
    sides = []
    for raw in (local, scan):
        s, _ = P.prepare_sides(raw, ref_df, cfg, cofilter_ref=False)
        sides.append(P.standardise_search(s, level))
    assert _plan_nodes(sides[0]) == ["LocalRelation"]
    assert "LocalRelation" not in _plan_nodes(sides[1])
    folded, partitioned = (sorted(map(tuple, s.collect())) for s in sides)
    assert folded == partitioned and len(folded) == 3


def test_area_cofilter_empty_ref_blank_postcodes(spark):
    """Adversarial: an empty reference and search rows whose postcodes are
    null, empty or blank.  No area is found, so every row is labeled
    'Postcode area not found' and both kept sides are empty."""
    s = spark.createDataFrame(
        [dict(record_id=i, address_line1="12 oak road", address_line2="",
              town="LONDON", postcode=pc)
         for i, pc in enumerate([None, "", "   ", "SW9 7QD"])],
        "record_id long, address_line1 string, address_line2 string, "
        "town string, postcode string",
    )
    ref = spark.createDataFrame([], "ref_id long, Postcode string")
    cols = ("address_line1", "address_line2", "town")
    kept, ref_kept, labeled = C.area_cofilter(s, ref, address_cols=cols)
    labels = [r[C.EXCLUSION_COL] for r in labeled.collect()]
    assert labels == [C.EXCL_AREA] * 4
    assert kept.count() == 0 and ref_kept.count() == 0


def test_join_prior_results_suffixes(spark, search_df):
    prior = spark.createDataFrame(
        [dict(record_id=1, postcode="OLD", fuzzy_score=99.0)]
    )
    out = C.join_prior_results(search_df, prior)
    assert "postcode_prior" in out.columns and "fuzzy_score" in out.columns
    row = {r["record_id"]: r for r in out.collect()}
    assert row[1]["postcode"] == "SW9 7QD" and row[1]["postcode_prior"] == "OLD"
    assert row[2]["fuzzy_score"] is None


def test_join_to_orig_df_coalesce(spark, search_df):
    results = spark.createDataFrame(
        [dict(record_id=1, full_match=True, fulladdress="12 OAK ROAD SW9 7QD",
              UPRN=110),
         dict(record_id=3, full_match=False, fulladdress="X", UPRN=999)]
    )
    # orig already carries prior-run match columns → new values win
    orig = search_df.withColumn(
        "matched_with_reference", F.col("record_id") == 2
    ).withColumn(
        "ref_matched_address",
        F.when(F.col("record_id") == 2, F.lit("PRIOR ADDR")),
    )
    out = {r["record_id"]: r
           for r in C.join_to_orig_df(results, orig, "record_id").collect()}
    assert len(out) == 4                       # every original row kept
    assert out[1]["matched_with_reference"] is True
    assert out[1]["ref_matched_address"] == "12 OAK ROAD SW9 7QD"
    assert out[2]["matched_with_reference"] is True      # prior run survives
    assert out[2]["ref_matched_address"] == "PRIOR ADDR"
    assert out[3]["matched_with_reference"] is False     # non-full_match row
    assert out[4]["ref_matched_address"] is None


# ---------------------------------------------------------------------------
# S2/S3 schema coercion
# ---------------------------------------------------------------------------


def test_llpg_fixture_flows_end_to_end(spark):
    """Non-LPI (on-prem LLPG) extract → coerce → prepare → standardise."""
    llpg = spark.createDataFrame([dict(
        ref_id=1, Address_LPI="12 OAK ROAD", Name_LPI="", Num_LPI="12",
        Secondary_Name_LPI="", Secondary_Num_LPI="", Postcode_LPI="SW9 7QD",
        Postal_Town_LPI="LONDON", Street="OAK ROAD", UPRN_BLPU=77,
    )])
    coerced = SC.coerce_reference_schema(llpg)
    for c in SC.LPI_ADDRESS_COLS:
        assert c in coerced.columns
    std = P.standardise_reference(P.prepare_reference(coerced), False)
    row = std.collect()[0]
    assert row["postcode_ref"] == "SW9 7QD" and row["UPRN"] == 77
    assert "12 oak road" in row["reference_mod_address"]


def test_api_rename_map(spark):
    api = spark.createDataFrame([dict(
        ref_id=1, ORGANISATION="ACME", PAO_START_NUMBER="5",
        STREET_DESCRIPTION="ELM ST", POSTCODE_LOCATOR="CR2 6XH",
        TOWN_NAME="CROYDON",
    )])
    out = SC.coerce_reference_schema(api)
    row = out.collect()[0]
    assert row["Organisation"] == "ACME" and row["Postcode"] == "CR2 6XH"
    assert row["SaoText"] is None  # backfilled


def test_nonstandard_last_col_is_postcode(spark):
    df = spark.createDataFrame([dict(ref_id=1, addr="5 Elm St", pc="CR2 6XH")])
    out = SC.coerce_reference_schema(df, ref_address_cols=["addr", "pc"])
    assert out.collect()[0]["Postcode"] == "CR2 6XH"


def test_multifile_union_provenance(spark, tmp_path):
    a = str(tmp_path / "llpg_extract.parquet")
    b = str(tmp_path / "api_extract.parquet")
    spark.createDataFrame([dict(
        ref_id=1, Address_LPI="x", Num_LPI="12", Postcode_LPI="SW9 7QD",
        Street="OAK ROAD",
    )]).write.parquet(a)
    spark.createDataFrame([dict(
        ref_id=2, PAO_START_NUMBER="5", STREET_DESCRIPTION="ELM ST",
        POSTCODE_LOCATOR="CR2 6XH",
    )]).write.parquet(b)
    out = SC.read_reference_files(spark, [a, b])
    rows = {r["ref_id"]: r for r in out.collect()}
    assert rows[1]["reference_file"] == "llpg_extract"
    assert rows[2]["reference_file"] == "api_extract"
    assert rows[1]["Postcode"] == "SW9 7QD" and rows[2]["Postcode"] == "CR2 6XH"
    assert rows[1]["input_file"].endswith(".parquet")


# ---------------------------------------------------------------------------
# S1 file-type dispatch
# ---------------------------------------------------------------------------


def test_read_file_csv_gz_and_parquet(spark, tmp_path):
    from address_matcher_spark.sources import read as R

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    pq = str(tmp_path / "t.parquet")
    df.write.parquet(pq)
    assert R.read_file(spark, pq).count() == 2

    import gzip
    csv_gz = str(tmp_path / "t.csv.gz")
    with gzip.open(csv_gz, "wt") as f:
        f.write("id,v\n1,a\n2,b\n")
    got = R.read_file(spark, csv_gz)
    assert got.count() == 2 and set(got.columns) == {"id", "v"}

    assert R.detect_file_type("x.csv.bz2") == "csv"
    with pytest.raises(ValueError):
        R.detect_file_type("notes.txt")


def _write_minimal_xlsx(path: str) -> None:
    """Independently-written OOXML generator (full package structure:
    content types, rels, workbook, sheet, shared strings) so the reader
    is tested against the FORMAT, not against its own assumptions.
    Covers: shared strings, inline string, numeric cells, a sparse row
    (missing B), and a two-letter column ref (AA)."""
    import zipfile

    ct = (
        '<?xml version="1.0"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
        "</Types>"
    )
    rels = (
        '<?xml version="1.0"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )
    wb = (
        '<?xml version="1.0"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        '<sheets><sheet name="Sheet1" sheetId="1"/></sheets></workbook>'
    )
    sst = (
        '<?xml version="1.0"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3">'
        "<si><t>address</t></si><si><t>12 OAK ROAD</t></si>"
        "<si><r><t>7 ELM</t></r><r><t> STREET</t></r></si></sst>"
    )
    ws = (
        '<?xml version="1.0"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="inlineStr">'
        "<is><t>uprn</t></is></c>"
        '<c r="AA1" t="inlineStr"><is><t>wide</t></is></c></row>'
        '<row r="2"><c r="A2" t="s"><v>1</v></c><c r="B2"><v>9001</v></c>'
        '<c r="AA2"><v>1.5</v></c></row>'
        '<row r="3"><c r="A3" t="s"><v>2</v></c>'
        '<c r="AA3" t="inlineStr"><is><t>x</t></is></c></row>'
        "</sheetData></worksheet>"
    )
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("[Content_Types].xml", ct)
        zf.writestr("_rels/.rels", rels)
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/sharedStrings.xml", sst)
        zf.writestr("xl/worksheets/sheet1.xml", ws)


def test_read_file_xlsx(spark, tmp_path):
    """S1 xlsx path (ref tools/matcher_funcs.py:60-67 pd.read_excel):
    dependency-free driver-side parse → all-string DataFrame; coercion
    stays downstream exactly like the reference."""
    from address_matcher_spark.sources import read as R

    path = str(tmp_path / "book.xlsx")
    _write_minimal_xlsx(path)
    df = R.read_file(spark, path)
    # header from row 1; gap columns C..Z get placeholder names
    assert df.columns[0] == "address" and df.columns[1] == "uprn"
    assert df.columns[26] == "wide" and df.columns[2] == "_c2"
    rows = {r["address"]: r for r in df.collect()}
    assert rows["12 OAK ROAD"]["uprn"] == "9001"
    assert rows["12 OAK ROAD"]["wide"] == "1.5"
    # sparse row: missing B stays null; multi-run inline/shared strings join
    assert rows["7 ELM STREET"]["uprn"] is None
    assert rows["7 ELM STREET"]["wide"] == "x"


def test_read_file_csv_zip(spark, tmp_path):
    """Spark has no zip codec — the archive must be extracted driver-side,
    not parsed as CSV text (which silently yields garbage rows)."""
    import zipfile

    from address_matcher_spark.sources import read as R

    csv_zip = str(tmp_path / "t.csv.zip")
    with zipfile.ZipFile(csv_zip, "w") as zf:
        zf.writestr("t.csv", "id,v\n1,a\n2,b\n")
    got = R.read_file(spark, csv_zip)
    rows = {r["id"]: r["v"] for r in got.collect()}
    assert rows == {1: "a", 2: "b"} and set(got.columns) == {"id", "v"}

    bad = str(tmp_path / "empty.csv.zip")
    with zipfile.ZipFile(bad, "w") as zf:
        zf.writestr("readme.txt", "no csv here")
    with pytest.raises(ValueError):
        R.read_file(spark, bad)


def test_waterfall_empty_search_side(spark, ref_df):
    """An all-filtered search side still returns a schema-complete empty
    result (pass 1 always runs) and an ANSI-safe summary."""
    from address_matcher_spark.plans import pipeline as P

    empty = spark.createDataFrame(
        [], "record_id long, url string, address_line1 string, "
            "address_line2 string, town string, postcode string"
    )
    cfg = P.MatchConfig(run_field_passes=False)
    s, r = P.prepare_sides(empty, ref_df, cfg)
    res = P.run_waterfall(
        P.standardise_search(s, False), P.standardise_search(s, True),
        P.standardise_reference(r, False), P.standardise_reference(r, True),
        cfg,
    )
    assert res.count() == 0
    assert set(P.RESULT_COLS) <= set(res.columns)
    row = P.match_summary(res).collect()[0]
    assert row["attempted"] == 0 and row["match_rate_pct"] == 0.0
