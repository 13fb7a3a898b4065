"""Connected-components tests: transitivity, agreement with the union-find
ground truth, invariance under edge order/partitioning, and mid-run resume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from address_matcher_spark.operators import cluster as C
from address_matcher_spark.sources.checkpoint import CheckpointStore


def _labels(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = C.connected_components(df, **kw).collect()
    return {r["node"]: r["cluster_id"] for r in out}


def test_chain_and_singleton(spark):
    got = _labels(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_star_and_negative_ids(spark):
    # xxhash64 node ids are arbitrary longs incl. negatives
    got = _labels(spark, [(-5, 7), (7, 9), (100, -5), (42, 43)])
    assert got == {-5: -5, 7: -5, 9: -5, 100: -5, 42: 42, 43: 42}


def test_order_and_partition_invariance(spark):
    edges = [(1, 2), (2, 3), (5, 6), (6, 7), (3, 5), (20, 21)]
    a = _labels(spark, edges)
    b = _labels(spark, list(reversed(edges)))
    df = spark.createDataFrame(edges, "src long, dst long").repartition(7)
    c = {r["node"]: r["cluster_id"] for r in C.connected_components(df).collect()}
    assert a == b == c
    assert a[7] == a[1] == 1


def test_resume_mid_run(spark, tmp_path):
    edges = [(i, i + 1) for i in range(0, 40)] + [(100, 101), (101, 102)]
    df = spark.createDataFrame(edges, "src long, dst long")
    want = {r["node"]: r["cluster_id"]
            for r in C.connected_components(df).collect()}

    store = CheckpointStore(str(tmp_path / "ckpt"), "run1")
    # simulate a killed run: only one superstep committed
    C.connected_components(df, store=store, max_iterations=1)
    assert store.latest_superstep("cc_edges") == 0
    # resume from the checkpoint — edges input deliberately ignored mid-run
    got = {r["node"]: r["cluster_id"]
           for r in C.connected_components(df, store=store).collect()}
    assert got == want
    meta = store.meta("cc_edges", store.latest_superstep("cc_edges"))
    assert meta["rows"] == sum(meta["partition_rows"].values())


def test_pipeline_clusters_match_ground_truth(spark):
    """Cluster partition structure equals the generator's union-find over
    true entity links (expected_clusters)."""
    from address_matcher_spark import datagen
    from address_matcher_spark.plans import pipeline as P

    fx = datagen.generate(datagen.Scale(n_ref=400, n_search=300))
    pages = spark.createDataFrame(fx["pages"])
    cfg = P.MatchConfig(run_field_passes=False)
    search = P.prepare_search(P.search_from_pages(pages), cfg)
    ref = P.prepare_reference(spark.createDataFrame(fx["reference_addresses"]))
    res = P.run_waterfall(
        P.standardise_search(search, False), P.standardise_search(search, True),
        P.standardise_reference(ref, False), P.standardise_reference(ref, True),
        cfg,
    )
    clusters = C.cluster_records(res)
    # map hashed record ids back to datagen ids via url
    url_map = spark.createDataFrame(fx["search_addresses"][["record_id", "url"]]) \
        .select(F.col("record_id").alias("gen_id"), F.xxhash64("url").alias("record_id"))
    got = clusters.join(url_map, "record_id").select("gen_id", "cluster_id").toPandas()
    got_parts = {
        frozenset(g["gen_id"]) for _, g in got.groupby("cluster_id")
    }
    want = fx["expected_clusters"]
    want_parts = {
        frozenset(g["record_id"]) for _, g in want.groupby("cluster_root")
    }
    assert got_parts == want_parts


def test_cluster_records_equals_connected_components(spark):
    """On one-row-per-record results (a forest of stars, one per ref_id)
    cluster_records' window label is connected_components' label of the
    record's node over the same type-tagged node hashes."""
    import random

    rng = random.Random(3)
    rows = [(rid, rng.randrange(-8, 8), rng.random() < 0.8)
            for rid in range(-30, 30)]
    res = spark.createDataFrame(
        rows, "record_id long, ref_id long, full_match boolean")
    got = {(r["record_id"], r["ref_id"], r["cluster_id"])
           for r in C.cluster_records(res).collect()}

    def node(tag, col):
        return F.xxhash64(F.concat(F.lit(tag), F.col(col).cast("string")))

    m = res.filter("full_match")
    labels = C.connected_components(m.select(
        node("s:", "record_id").alias("src"), node("r:", "ref_id").alias("dst")))
    want = {(r["record_id"], r["ref_id"], r["cluster_id"])
            for r in m.select("record_id", "ref_id",
                              node("s:", "record_id").alias("node"))
            .join(labels, "node").collect()}
    assert got == want and len(got) == sum(f for _, _, f in rows)


def test_driver_finish_matches_distributed(spark):
    # hybrid tail (driver union-find under the size bound) must label
    # exactly like pure supersteps, on a graph with chains, stars,
    # singletons-via-self-loop, and negative ids
    import random

    rng = random.Random(7)
    nodes = list(range(-40, 40))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(120)]
    df = spark.createDataFrame(edges, "src long, dst long")
    hybrid = {
        (r["node"], r["cluster_id"])
        for r in C.connected_components(df).collect()
    }
    pure = {
        (r["node"], r["cluster_id"])
        for r in C.connected_components(
            df, driver_finish_max_edges=0).collect()
    }
    assert hybrid == pure and len(hybrid) > 0
