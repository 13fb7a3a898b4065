"""The benchmark's workloads: corpus generation and caching, one
operation of each workload (plain and traced), and the output checks.

Every operation goes through the product's public functions only:
`api.match_addresses` for a batch, and for a single-address lookup the
`scripts/job_match.py` bucketed-reference sequence
(`prepare_sides` → `standardise_search` → `run_waterfall`).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from address_matcher_spark import datagen
from address_matcher_spark.sources.checkpoint import CheckpointStore

# search rows per corpus; the reference is 1.25× and the postcode pool
# follows bench.py's sizing, so datagen's skew profile (one postcode with
# ~25% of rows, Zipf(1.2) tail) holds at every size.  At 2000 rows the
# hottest postcode block's cross product is 300k-365k pairs on seeds
# 1-10, above the cogroup scorer's 250k-pair salt target, so level 1
# salts it.
SCALES = {"bench": 2000, "tiny": 120}
WARMUP_ROWS = 48          # batch warm-up: the first rows of the corpus


@dataclass
class Corpus:
    dir: str
    search: pd.DataFrame
    labeled: pd.DataFrame

    @property
    def search_path(self) -> str:
        return os.path.join(self.dir, "search.parquet")

    @property
    def ref_path(self) -> str:
        return os.path.join(self.dir, "reference.parquet")


def load_corpus(cache_root: str, seed: int, scale: str) -> Corpus:
    """Generate (or reuse) the datagen corpus for (seed, scale), cached on
    disk under a key that includes a hash of datagen's source, so an edit
    to the generator never reuses stale inputs."""
    with open(datagen.__file__, "rb") as fh:
        gen_hash = hashlib.sha256(fh.read()).hexdigest()[:12]
    n = SCALES[scale]
    d = os.path.join(cache_root, f"corpus_s{seed}_n{n}_{gen_hash}")
    if not os.path.exists(os.path.join(d, "_done")):
        tabs = datagen.generate(
            datagen.Scale(n_ref=int(n * 1.25), n_search=n,
                          n_postcodes=max(120, n // 40)),
            seed,
        )
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        # existing_match is an all-null column with no inferable type
        tabs["search_addresses"].drop(columns=["existing_match"]).to_parquet(
            os.path.join(tmp, "search.parquet"), index=False)
        tabs["reference_addresses"].to_parquet(
            os.path.join(tmp, "reference.parquet"), index=False)
        tabs["labeled_pairs"].to_parquet(
            os.path.join(tmp, "labeled.parquet"), index=False)
        open(os.path.join(tmp, "_done"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return Corpus(
        dir=d,
        search=pd.read_parquet(os.path.join(d, "search.parquet")),
        labeled=pd.read_parquet(os.path.join(d, "labeled.parquet")),
    )


# ---------------------------------------------------------------------------
# output checks and quality
# ---------------------------------------------------------------------------


def check_batch(search_ids: np.ndarray, results: pd.DataFrame,
                on_orig: pd.DataFrame, clusters: pd.DataFrame) -> list[str]:
    """Return the failed checks of one batch operation (empty = pass).
    The check that results hold exactly the co-filtered records needs a
    Spark query, so it runs after the timed loop (`check_attempted`)."""
    bad = []
    ids = set(search_ids.tolist())
    if results["record_id"].duplicated().any():
        bad.append("more than one result row for a record")
    if len(on_orig) != len(search_ids) or set(on_orig["record_id"]) != ids:
        bad.append("results_on_orig is not one row per submitted record")
    matched = results[results["full_match"].fillna(False)]
    if not set(matched["record_id"]) <= set(clusters["record_id"]):
        bad.append("a matched record has no cluster")
    joined = matched[["record_id", "ref_id"]].merge(
        clusters[["record_id", "cluster_id"]], on="record_id")
    if (joined.groupby("ref_id")["cluster_id"].nunique() > 1).any():
        bad.append("records matched to one ref_id are in different clusters")
    return bad


def check_attempted(results: pd.DataFrame, attempted: set,
                    matchable: set) -> list[str]:
    """One result row per attempted record.  `results` holds a row for
    each record some pass returned a candidate for; a record no pass
    finds a candidate for has none (it is in `results_on_orig`,
    unmatched).  So: no result row for a record the co-filters dropped,
    and a row for every attempted record whose true reference address
    datagen labels (`matchable`), since that address sits in the
    record's own postcode block.  A pass that loses residue rows fails
    the second check."""
    got = set(results["record_id"].astype(int))
    bad = []
    if not got <= attempted:
        bad.append(f"{len(got - attempted)} result rows for records that "
                   "were not attempted")
    lost = (attempted & matchable) - got
    if lost:
        bad.append(f"{len(lost)} attempted records with a labelled match "
                   f"have no result row, e.g. {sorted(lost)[:5]}")
    return bad


def check_lookup(record_id: int, results: pd.DataFrame) -> list[str]:
    if len(results) != 1 or int(results["record_id"].iloc[0]) != record_id:
        return [f"lookup of {record_id} returned {len(results)} rows"]
    return []


def pair_counts(results: pd.DataFrame, labeled: pd.DataFrame,
                submitted) -> tuple[int, int, int]:
    """(true positives, predicted pairs, true pairs) of full_match pairs
    against datagen's labeled pairs.  The true pairs are those of every
    submitted record, so a record the co-filters drop still counts
    against recall."""
    m = results[results["full_match"].fillna(False)]
    pred = set(zip(m["record_id"].astype(int), m["ref_id"].astype(int)))
    t = labeled[labeled["is_match"] & labeled["record_id"].isin(submitted)]
    true = set(zip(t["record_id"].astype(int), t["ref_id"].astype(int)))
    return len(pred & true), len(pred), len(true)


def f1(tp: int, n_pred: int, n_true: int) -> float:
    if tp == 0:
        return 0.0
    p, r = tp / n_pred, tp / n_true
    return 2 * p * r / (p + r)


# ---------------------------------------------------------------------------
# lookup request selection
# ---------------------------------------------------------------------------


def _area_len(pc: pd.Series) -> pd.Series:
    # cofilter.postcode_area: despaced, upper, minus the last two chars.
    # Areas of 3 characters or fewer never count as reference evidence,
    # so such a request is co-filtered out before the waterfall.
    return pc.str.replace(r"\s", "", regex=True).str.len() - 2


# datagen difficulty classes whose records are written the way the
# reference holds them (verbatim or with abbreviated street types)
LOOKUP_CLASSES = ("exact", "abbrev")


def lookup_requests(corpus: Corpus, seed: int) -> list[int]:
    """Request records in order, drawn by seed from the records of the
    LOOKUP_CLASSES difficulty classes (the first is the warm-up).

    Floor phrases ("first floor ...") are left out: only the full
    standardisation rewrites them to the reference's flat letters, so
    such a request always runs past level 1 and would put a second
    latency mode into a run of two requests."""
    s = corpus.search.set_index("record_id")
    usable = s.index[(_area_len(s["postcode"]) > 3)
                     & ~s["address_line1"].str.contains("floor")]
    lab = corpus.labeled[
        corpus.labeled["record_id"].isin(usable)
        & corpus.labeled["difficulty"].isin(LOOKUP_CLASSES)
    ]
    hits = lab["record_id"].to_numpy()
    return [int(x) for x in np.random.RandomState(seed).permutation(hits)]


# ---------------------------------------------------------------------------
# operations
# ---------------------------------------------------------------------------


@dataclass
class OpResult:
    records: int            # search records submitted
    submitted: np.ndarray   # their record ids
    results: pd.DataFrame
    failures: list[str]


class TimedStore(CheckpointStore):
    """A CheckpointStore that counts and times its commits.  run_waterfall
    commits passes from worker threads, so `write_s` sums over threads
    and can exceed the wall time of the call."""

    commits = 0
    write_s = 0.0
    _lock = threading.Lock()

    def write(self, df, stage, superstep=None, counters=None):
        t0 = time.perf_counter()
        out = super().write(df, stage, superstep, counters)
        with self._lock:
            self.write_s += time.perf_counter() - t0
            self.commits += 1
        return out


def tree_bytes(root: str) -> int:
    """Bytes of a file, or of every file under a directory."""
    if os.path.isfile(root):
        return os.path.getsize(root)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)


class BatchSkewed:
    """One `api.match_addresses` call per operation over the whole skewed
    corpus; every output (results, results on the original rows,
    clusters, summary) is materialised, and all but the summary are
    checked."""

    def __init__(self, spark, corpus: Corpus, tracer):
        self.spark, self.corpus, self.tracer = spark, corpus, tracer
        self.search_ids = corpus.search["record_id"].to_numpy()
        lab = corpus.labeled
        self.matchable = set(lab.loc[lab["is_match"], "record_id"].astype(int))
        self.layer: dict = {}

    def setup(self) -> None:
        # the discarded warm-up: the same call on the corpus' first rows
        warm = self.spark.read.parquet(self.corpus.search_path).filter(
            f"record_id < {WARMUP_ROWS}")
        self._run(warm, traced=False)

    def operation(self, op_id: int) -> OpResult:
        search = self.spark.read.parquet(self.corpus.search_path)
        results, on_orig, clusters = self._run(
            search, traced=self.tracer.enabled, op_id=op_id)
        return OpResult(len(self.search_ids), self.search_ids, results,
                        check_batch(self.search_ids, results, on_orig, clusters))

    def attempted_ids(self) -> set:
        """The records the F3 co-filter lets through: `prepare_sides`'
        search side, the records every operation attempts."""
        from address_matcher_spark.plans import pipeline as P
        from address_matcher_spark.sources.coerce import coerce_reference_schema

        s, _ = P.prepare_sides(
            self.spark.read.parquet(self.corpus.search_path),
            coerce_reference_schema(self.spark.read.parquet(self.corpus.ref_path)),
            P.MatchConfig())
        return set(s.select("record_id").toPandas()["record_id"].astype(int))

    def late_checks(self, ops: list[OpResult]) -> None:
        """Checks that need a Spark query of their own, run once after
        the timed loop."""
        attempted = self.attempted_ids()
        for op in ops:
            op.failures += check_attempted(op.results, attempted,
                                           self.matchable)

    def refresh_drop(self, prev: OpResult, root: str) -> tuple[OpResult, dict]:
        """One durable refresh drop (traced run only), the sequence of
        `scripts/job_match.py` through `api.match_addresses(store=...,
        prior_results=...)`: an earlier drop matched the corpus' first
        half, so the drop re-crawls those records next to new ones.  The
        full matches among them are excluded (F4); every pass and every
        clustering superstep commits parquet through the store."""
        from address_matcher_spark import api

        first = np.sort(self.search_ids)[: len(self.search_ids) // 2]
        earlier = prev.results[prev.results["record_id"].isin(first)]
        hit = earlier["full_match"].fillna(False).astype(bool)
        prior = self.spark.createDataFrame(pd.DataFrame({
            "record_id": earlier["record_id"].astype("int64"),
            "full_match": hit}))
        store = TimedStore(root, "drop")
        search = self.spark.read.parquet(self.corpus.search_path)
        ref = self.spark.read.parquet(self.corpus.ref_path)
        with self.tracer.span("refresh_drop") as sp:
            res = api.match_addresses(search, ref, prior_results=prior,
                                      store=store)
            results = res.results.toPandas()
            on_orig = res.results_on_orig.toPandas()
            clusters = res.clusters.toPandas()
            res.summary.toPandas()
        excluded = set(earlier.loc[hit.to_numpy(), "record_id"].astype(int))
        failures = check_batch(self.search_ids, results, on_orig, clusters)
        failures += check_attempted(results, self.attempted_ids() - excluded,
                                    self.matchable)
        in_bytes = tree_bytes(self.corpus.search_path) + tree_bytes(
            self.corpus.ref_path)
        written = tree_bytes(root)
        cc = os.path.join(root, "drop", "cc_edges")
        metrics = {
            "refresh.s": sp.seconds,
            "refresh.records_per_s": len(self.search_ids) / sp.seconds,
            "cofilter.prior_excluded_rows": len(excluded),
            "checkpoint.commits": store.commits,
            "checkpoint.write_s": store.write_s,
            "checkpoint.bytes_written": written,
            "checkpoint.bytes_per_input_byte": written / in_bytes,
            "cluster.supersteps": sum(d.startswith("superstep=")
                                      for d in os.listdir(cc))
            if os.path.isdir(cc) else 0,
        }
        return OpResult(len(self.search_ids), self.search_ids, results,
                        failures), metrics

    def _run(self, search, traced: bool, op_id: int | None = None):
        from address_matcher_spark import api

        ref = self.spark.read.parquet(self.corpus.ref_path)
        if not traced:
            res = api.match_addresses(search, ref)
            out = (res.results.toPandas(), res.results_on_orig.toPandas(),
                   res.clusters.toPandas())
            res.summary.toPandas()
            return out
        return self._run_traced(search, ref, op_id)

    def _run_traced(self, search, ref, op_id: int):
        """api.match_addresses' calls in its order, with a span around
        each and the lazy stages materialised inside their own span so
        the time lands on the layer that does the work."""
        from address_matcher_spark.operators.cluster import cluster_records
        from address_matcher_spark.operators.cofilter import join_to_orig_df
        from address_matcher_spark.plans import pipeline as P
        from address_matcher_spark.sources.coerce import coerce_reference_schema

        cfg, span, lay = P.MatchConfig(), self.tracer.span, self.layer
        with span("coerce", op_id):
            ref = coerce_reference_schema(ref)
        with span("cofilter", op_id) as sp:
            s, r = P.prepare_sides(search, ref, cfg)
            s, r = s.localCheckpoint(), r.localCheckpoint()
        lay["cofilter.s"] = sp.seconds
        with span("standardise", op_id) as sp:
            sides = [P.standardise_search(s, False).localCheckpoint(),
                     P.standardise_search(s, True).localCheckpoint(),
                     P.standardise_reference(r, False).localCheckpoint(),
                     P.standardise_reference(r, True).localCheckpoint()]
        lay["standardise.s"] = sp.seconds
        wf: dict = {}
        with span("waterfall", op_id) as sp:
            out = P.run_waterfall(*sides, cfg, sides_materialized=True,
                                  metrics=wf)
            results = out.toPandas()
        lay["waterfall.s"], lay["waterfall.metrics"] = sp.seconds, wf
        with span("join_back", op_id) as sp:
            on_orig = join_to_orig_df(out, search, "record_id").toPandas()
        lay["join_back.s"] = sp.seconds
        with span("cluster", op_id) as sp:
            clusters = cluster_records(out).toPandas()
        lay["cluster.s"] = sp.seconds
        with span("summary", op_id):
            P.match_summary(out).toPandas()
        lay["input"], lay["standardised"] = (search, s), sides
        lay["level1"] = (sides[0], sides[2])
        return results, on_orig, clusters


class LookupSingle:
    """Single-address requests from one closed-loop client against a
    reference that set-up standardises and writes once as bucketed
    tables (scripts/job_match.py's AM_BUCKETED_REF_DIR path)."""

    def __init__(self, spark, corpus: Corpus, tracer, seed: int, work: str):
        self.spark, self.corpus, self.tracer = spark, corpus, tracer
        self.work = work
        self.queue = lookup_requests(corpus, seed)
        self.layer: dict = {}

    def setup(self) -> None:
        from address_matcher_spark.plans import pipeline as P
        from address_matcher_spark.sources.bucketing import ensure_bucketed_ref

        self.ref_raw = self.spark.read.parquet(self.corpus.ref_path)
        # one bucket per core: job_match's AM_REF_BUCKETS default of 32 is
        # sized for a cluster-scale extract, not a local[nproc] corpus
        n_buckets = self.spark.sparkContext.defaultParallelism
        with self.tracer.span("bucketing") as sp:
            ref = P.prepare_reference(self.ref_raw)
            root = os.path.join(self.work, "bucketed_ref")
            self.ref_min = ensure_bucketed_ref(
                self.spark, P.standardise_reference(ref, False),
                "am_ref_min_b", n_buckets=n_buckets,
                path=os.path.join(root, "ref_min"))
            self.ref_full = ensure_bucketed_ref(
                self.spark, P.standardise_reference(ref, True),
                "am_ref_full_b", n_buckets=n_buckets,
                path=os.path.join(root, "ref_full"))
        self.bucketing_s = sp.seconds
        self._request(self.queue[0], traced=False)

    def operation(self, op_id: int) -> OpResult:
        rid = self.queue[1 + op_id % (len(self.queue) - 1)]
        res = self._request(rid, traced=self.tracer.enabled, op_id=op_id)
        return OpResult(1, np.array([rid]), res, check_lookup(rid, res))

    def late_checks(self, ops: list[OpResult]) -> None:
        """Every request is drawn from records the co-filter keeps
        (`lookup_requests`), so `check_lookup` already covers them."""

    def _request(self, record_id: int, traced: bool, op_id: int | None = None):
        from address_matcher_spark.plans import pipeline as P

        cfg, span = P.MatchConfig(), self.tracer.span
        row = self.corpus.search[self.corpus.search["record_id"] == record_id]
        if not traced:
            one = self.spark.createDataFrame(row)
            s, _ = P.prepare_sides(one, self.ref_raw, cfg, cofilter_ref=False)
            return P.run_waterfall(
                P.standardise_search(s, False), P.standardise_search(s, True),
                self.ref_min, self.ref_full, cfg, ref_materialized=True,
            ).toPandas()
        lay = self.layer
        with span("request", op_id):
            one = self.spark.createDataFrame(row)
        with span("cofilter", op_id) as sp:
            s, _ = P.prepare_sides(one, self.ref_raw, cfg, cofilter_ref=False)
            s = s.localCheckpoint()
        lay["cofilter.s"] = sp.seconds
        with span("standardise", op_id) as sp:
            smin = P.standardise_search(s, False).localCheckpoint()
            sfull = P.standardise_search(s, True).localCheckpoint()
        lay["standardise.s"] = sp.seconds
        wf: dict = {}
        with span("waterfall", op_id) as sp:
            results = P.run_waterfall(
                smin, sfull, self.ref_min, self.ref_full, cfg,
                sides_materialized=True, ref_materialized=True, metrics=wf,
            ).toPandas()
        lay["waterfall.s"], lay["waterfall.metrics"] = sp.seconds, wf
        lay["input"], lay["standardised"] = (one, s), [smin, sfull]
        lay["level1"] = (smin, self.ref_min)
        return results
