"""One-call user API — the reference's Gradio `run_matcher` surface
(app.py:60-120, tools/matcher_funcs.py:620-720) as a library function.

A reference user brings (a) a dataframe of addresses to match — or raw
crawled pages — and (b) a reference extract in any of the three supported
schemas, and gets back the matched results, the results joined onto their
ORIGINAL rows, entity clusters, and the A4 summary.  Everything else
(schema coercion, co-filters, standardisation, the waterfall, clustering)
is this engine's internals.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from address_matcher_spark.operators.cluster import cluster_records
from address_matcher_spark.operators.cofilter import join_to_orig_df
from address_matcher_spark.plans import pipeline as P
from address_matcher_spark.sources.checkpoint import CheckpointStore
from address_matcher_spark.sources.coerce import coerce_reference_schema


@dataclass
class MatchResult:
    results: DataFrame          # one row per attempted record (best match)
    results_on_orig: DataFrame  # the user's original rows + match columns
    clusters: DataFrame         # record_id, ref_id, cluster_id
    summary: DataFrame          # A4 counts (attempted/matched/rate)


def match_addresses(
    search_df: DataFrame,
    ref_df: DataFrame,
    cfg: P.MatchConfig | None = None,
    prior_results: DataFrame | None = None,
    store: CheckpointStore | None = None,
    ref_address_cols: list[str] | None = None,
) -> MatchResult:
    """Match a search dataframe (record_id + address cols + postcode, per
    MatchConfig.address_cols) against a reference extract in LPI, LLPG,
    API, or last-column-is-postcode schema.

    prior_results: a previous run's `results` — full matches are excluded
    from this run (F4) and their columns survive in results_on_orig (J10).
    store: commit each waterfall stage (the two standardised search
    sides, both levels' block-keyed ref preps as one commit — the
    standardised reference is not committed on its own — and one
    checkpoint per unit) to it as parquet with lineage metadata; nothing
    resumes from those commits."""
    cfg = cfg or P.MatchConfig()
    if "url" not in search_df.columns:
        # the pipeline carries a url provenance column (graft input shape);
        # plain address frames get a synthetic one
        search_df = search_df.withColumn(
            "url",
            F.concat(F.lit("record://"), F.col("record_id").cast("string")),
        )
    ref_df = coerce_reference_schema(ref_df, ref_address_cols)
    search, ref = P.prepare_sides(search_df, ref_df, cfg, prior_results)
    results = P.run_waterfall(
        P.standardise_search(search, False),
        P.standardise_search(search, True),
        P.standardise_reference(ref, False),
        P.standardise_reference(ref, True),
        cfg, store=store,
    )
    on_orig = join_to_orig_df(results, search_df, "record_id")
    clusters = cluster_records(results)
    return MatchResult(
        results=results,
        results_on_orig=on_orig,
        clusters=clusters,
        summary=P.match_summary(results),
    )


def match_pages(
    pages_df: DataFrame,
    ref_df: DataFrame,
    cfg: P.MatchConfig | None = None,
    **kwargs,
) -> MatchResult:
    """Same, from raw crawled pages(url, warc_ts, html, text, lang): the
    graft input shape — byte-identical html→text extraction feeds the
    search side (T27)."""
    cfg = cfg or P.MatchConfig()
    search_raw = P.search_from_pages(pages_df)
    return match_addresses(search_raw, ref_df, cfg, **kwargs)
