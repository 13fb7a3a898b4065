"""Driver-contract query suite: every operator exposed as a
(spark_query, duckdb_oracle_sql) pair over the driver's parquet tables.

Design rules
  * Spark side uses the DataFrame API + this repo's operators (never SQL
    strings with regexes: Spark SQL treats backslashes in string literals
    as escapes, DuckDB doesn't — the DataFrame API sidesteps the dialect
    trap entirely).
  * Oracle side is one static ANSI-ish SQL string per query, generated
    from the SAME rule tables (synonym list, minhash params, stopwords) so
    the two sides cannot drift.
  * Every computed column is rounded/aliased identically on both sides
    (the driver hashes values after sorting columns by name).
  * Pseudo-address ER inputs are synthesised deterministically from
    customer/orders so ER operators are checkable against SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from address_matcher_spark.functions import standardise as S
from address_matcher_spark.operators import (
    blocking,
    dedup,
    scoring,
    select as sel,
    similarity,
    textstats,
)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# ---------------------------------------------------------------------------
# pseudo-address synthesis (shared SQL, no regexes → identical dialects)
# ---------------------------------------------------------------------------

_STREETS = [
    "ash road", "beech street", "cedar avenue", "elm lane",
    "maple road", "oak street", "poplar avenue", "willow grove",
]


def _street_case(key: str) -> str:
    whens = " ".join(
        f"WHEN ({key}) % 8 = {i} THEN '{s}'" for i, s in enumerate(_STREETS)
    )
    return f"(CASE {whens} END)"


def _pc(key: str) -> str:
    return (
        f"concat('SW', cast(({key}) % 20 + 1 AS string), ' ', "
        f"cast(({key}) % 9 AS string), 'AB')"
    )


ER_REF_SQL = f"""
SELECT c_custkey AS ref_id,
       cast(c_custkey % 180 + 1 AS string) AS pao_number,
       {_street_case('c_custkey')} AS street,
       {_pc('c_custkey')} AS postcode,
       concat(cast(c_custkey % 180 + 1 AS string), ' ', {_street_case('c_custkey')}) AS body
FROM customer
""".strip()

ER_SEARCH_SQL = f"""
SELECT record_id, true_ref_id, postcode, variant,
       CASE variant
         WHEN 0 THEN concat(pao_number, ' ', street)
         WHEN 1 THEN concat(pao_number, ' ',
            replace(replace(replace(street, 'road', 'rd'), 'street', 'st'),
                    'avenue', 'ave'))
         WHEN 2 THEN concat(pao_number, '-',
            cast(cast(pao_number AS int) + 2 AS string), ' ', street)
         ELSE concat(cast(cast(pao_number AS int) + 1 AS string), ' ', street)
       END AS body,
       CASE WHEN variant <= 2 THEN true ELSE false END AS is_match
FROM (
  SELECT o_orderkey AS record_id, o_custkey AS true_ref_id,
         cast(o_custkey % 180 + 1 AS string) AS pao_number,
         {_street_case('o_custkey')} AS street,
         {_pc('o_custkey')} AS postcode,
         o_orderkey % 4 AS variant
  FROM orders
) base
""".strip()


def _with_er(sql: str) -> str:
    return f"WITH er_ref AS ({ER_REF_SQL}),\n er_search AS ({ER_SEARCH_SQL})\n{sql}"


# session wrapper id → the sf_dir its views were last registered from.
# Catalog setup is pure driver-side metadata (10 parquet schema
# inferences + 2 view-DDL parses, ~1 s warm) that every query invocation
# used to repay; the views themselves stay lazy — every execution still
# scans the parquet files, so nothing about query RESULTS is cached.
# Temp views are per-SparkSession, but CPython reuses the id of a
# collected session and a view can be dropped, so a matching key only
# skips registration while the catalog still holds every view.
_REGISTERED_VIEWS: dict[int, str] = {}
_VIEWS = (*TABLES, "er_ref", "er_search")


def register_views(spark: SparkSession, sf_dir: str,
                   force: bool = False) -> None:
    import os as _os

    path = _os.path.abspath(sf_dir)
    if (not force and _REGISTERED_VIEWS.get(id(spark)) == path
            and all(spark.catalog.tableExists(v) for v in _VIEWS)):
        return
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    spark.sql(f"CREATE OR REPLACE TEMP VIEW er_ref AS {ER_REF_SQL}")
    spark.sql(f"CREATE OR REPLACE TEMP VIEW er_search AS {ER_SEARCH_SQL}")
    _REGISTERED_VIEWS[id(spark)] = path


# ---------------------------------------------------------------------------
# oracle-SQL generators driven by the same rule tables as the operators
# ---------------------------------------------------------------------------


def _sql_quote_regex(pat: str) -> str:
    return pat.replace("'", "''")


def synonyms_oracle_expr(col: str) -> str:
    expr = col
    for pat, repl, is_regex in S._SYNONYM_RULES:
        pattern = pat if is_regex else S._lit_re(pat)
        expr = f"regexp_replace({expr}, '{_sql_quote_regex(pattern)}', '{repl}', 'g')"
    return expr


def minhash_oracle_exprs() -> list[str]:
    """DuckDB expressions mirroring dedup.minhash_signature_cols: token →
    md5-prefix bigint → (a*h+b) % p → min."""
    toks = (
        "list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))"
    )
    hashes = (
        f"list_transform({toks}, t -> "
        f"cast(('0x' || substring(md5(t), 1, 8)) AS bigint))"
    )
    out = []
    for i, (a, b) in enumerate(dedup._minhash_params()):
        out.append(
            f"list_min(list_transform({hashes}, "
            f"h -> (h * {a} + {b}) % {dedup.MINHASH_PRIME})) AS mh{i}"
        )
    return out


def stopword_count_oracle(col: str, lang: str) -> str:
    words = "|".join(textstats.STOPWORDS[lang])
    return (
        f"len(regexp_extract_all(lower({col}), '\\b(?:{words})\\b'))"
    )


# ---------------------------------------------------------------------------
# the query registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, callable] = {}
ORACLES: dict[str, str] = {}


def _register(name: str, fn, oracle: str | None) -> None:
    QUERIES[name] = fn
    if oracle is not None:
        ORACLES[name] = oracle


def _q(spark: SparkSession, sf_dir: str, builder) -> DataFrame:
    register_views(spark, sf_dir)
    return builder(spark)


# ---------- A. relational core -------------------------------------------

_register(
    "q1_pricing_summary",
    lambda spark, sf: _q(spark, sf, lambda s: (
        s.table("lineitem")
        .filter(F.col("l_shipdate") <= "1998-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        # exact integer-cents sums: double summation order differs between
        # engines, so rounded double sums can flip at the .xx5 boundary
        .agg(
            (F.sum(F.round(F.col("l_quantity") * 100).cast("long")) / 100.0)
            .alias("sum_qty"),
            (F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")) / 100.0)
            .alias("sum_base_price"),
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                    * (100 - F.round(F.col("l_discount") * 100).cast("long"))
                ) / 10000.0
            ).alias("sum_disc_price"),
            (
                F.round(
                    F.sum(F.round(F.col("l_discount") * 100).cast("long"))
                    / F.count(F.lit(1)) / 100.0,
                    4,
                )
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )),
    """
    SELECT l_returnflag, l_linestatus,
           sum(cast(round(l_quantity * 100) AS bigint)) / 100.0 AS sum_qty,
           sum(cast(round(l_extendedprice * 100) AS bigint)) / 100.0
             AS sum_base_price,
           sum(cast(round(l_extendedprice * 100) AS bigint)
               * (100 - cast(round(l_discount * 100) AS bigint))) / 10000.0
             AS sum_disc_price,
           round(sum(cast(round(l_discount * 100) AS bigint))
                 / count(*) / 100.0, 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)

_register(
    "q3_order_revenue",
    lambda spark, sf: _q(spark, sf, lambda s: (
        s.table("customer").filter(F.col("c_mktsegment") == "BUILDING")
        .join(s.table("orders"), F.col("c_custkey") == F.col("o_custkey"))
        .join(s.table("lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("o_orderdate") < "1996-03-15 00:00:00")
        .groupBy("o_orderkey", "o_orderdate")
        # exact integer-cents arithmetic: double summation order differs
        # between engines and 1-cent rounding flips otherwise
        .agg(
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                    * (100 - F.round(F.col("l_discount") * 100).cast("long"))
                ) / 10000.0
            ).alias("revenue")
        )
        .filter(F.col("revenue") > 100000)
    )),
    """
    SELECT o_orderkey, o_orderdate,
           sum(cast(round(l_extendedprice * 100) AS bigint)
               * (100 - cast(round(l_discount * 100) AS bigint))) / 10000.0
             AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY o_orderkey, o_orderdate
    HAVING sum(cast(round(l_extendedprice * 100) AS bigint)
               * (100 - cast(round(l_discount * 100) AS bigint))) / 10000.0
           > 100000
    """,
)

_register(
    "anti_join_customers_without_orders",
    lambda spark, sf: _q(spark, sf, lambda s: (
        s.table("customer")
        .join(
            s.table("orders").select(F.col("o_custkey").alias("c_custkey")),
            "c_custkey", "left_anti",
        )
        .select("c_custkey", "c_name")
    )),
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)

_register(
    "semi_join_suppliers_of_large_parts",
    lambda spark, sf: _q(spark, sf, lambda s: (
        s.table("supplier")
        .join(
            s.table("lineitem")
            .join(
                s.table("part").filter(F.col("p_size") > 40),
                F.col("l_partkey") == F.col("p_partkey"),
            )
            .select(F.col("l_suppkey").alias("s_suppkey")),
            "s_suppkey", "left_semi",
        )
        .select("s_suppkey", "s_name")
    )),
    """
    SELECT s_suppkey, s_name FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_size > 40)
    """,
)

_register(
    "window_best_order_per_customer",
    lambda spark, sf: _q(spark, sf, lambda s: (
        sel.best_match(
            s.table("orders")
            .withColumn("full_match", F.lit(True))
            .withColumn("full_number_match", F.lit(True))
            .withColumn("fuzzy_score", F.col("o_totalprice"))
            .withColumn("wratio_score", F.lit(None).cast("double")),
            group_col="o_custkey",
            tiebreak_col="o_orderkey",
        ).select("o_custkey", "o_orderkey",
                 F.round("o_totalprice", 2).alias("best_price"))
    )),
    """
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS best_price
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) rn
      FROM orders) t
    WHERE rn = 1
    """,
)

_register(
    "waterfall_dedup_orders",
    lambda spark, sf: _q(spark, sf, lambda s: (
        sel.combine_passes(
            [
                s.table("orders").filter(F.col("o_orderstatus") == "F")
                .select(F.col("o_custkey").alias("record_id"),
                        F.col("o_orderkey"),
                        (F.col("o_totalprice") > 150000).alias("full_match")),
                s.table("orders").filter(F.col("o_orderstatus") == "O")
                .select(F.col("o_custkey").alias("record_id"),
                        F.col("o_orderkey"),
                        (F.col("o_totalprice") > 150000).alias("full_match")),
            ],
            key="record_id",
        )
        # make the winner deterministic inside each pass by re-ranking
        .select("record_id", "full_match", "pass_priority")
        .groupBy("record_id", "full_match", "pass_priority")
        .agg(F.count(F.lit(1)).alias("n"))
    )),
    """
    WITH tagged AS (
      SELECT o_custkey AS record_id, o_totalprice > 150000 AS full_match,
             CASE o_orderstatus WHEN 'F' THEN 0 ELSE 1 END AS pass_priority,
             o_orderkey
      FROM orders WHERE o_orderstatus IN ('F','O')),
    ranked AS (
      SELECT record_id, full_match, pass_priority,
             row_number() OVER (PARTITION BY record_id
                                ORDER BY full_match DESC, pass_priority ASC) rn
      FROM tagged)
    SELECT record_id, full_match, pass_priority, count(*) AS n
    FROM ranked WHERE rn = 1
    GROUP BY record_id, full_match, pass_priority
    """,
)

_register(
    "weighted_score_per_supplier",
    lambda spark, sf: _q(spark, sf, lambda s: (
        s.table("lineitem")
        .groupBy("l_suppkey")
        # P6-style weighted sum in exact integer units (x100)
        .agg(
            (
                F.sum(
                    200 * F.round(F.col("l_quantity")).cast("long")
                    + 50 * F.round(F.col("l_discount") * 100).cast("long")
                    + 100 * F.round(F.col("l_tax") * 100).cast("long")
                ) / 100.0
            ).alias("weighted_score"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )),
    """
    SELECT l_suppkey,
           sum(200 * cast(round(l_quantity) AS bigint)
               + 50 * cast(round(l_discount * 100) AS bigint)
               + 100 * cast(round(l_tax * 100) AS bigint)) / 100.0
             AS weighted_score,
           count(*) AS n_items
    FROM lineitem GROUP BY l_suppkey
    """,
)

_register(
    "match_summary_orders",
    lambda spark, sf: _q(spark, sf, lambda s: (
        s.table("orders").agg(
            F.count(F.lit(1)).alias("attempted"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("matched"),
            F.count(F.when(F.col("o_orderstatus") != "F", 1)).alias("not_matched"),
            F.round(
                100 * F.count(F.when(F.col("o_orderstatus") == "F", 1))
                / F.count(F.lit(1)), 1,
            ).alias("match_rate_pct"),
        )
    )),
    """
    SELECT count(*) AS attempted,
           count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS matched,
           count(CASE WHEN o_orderstatus <> 'F' THEN 1 END) AS not_matched,
           round(100 * count(CASE WHEN o_orderstatus = 'F' THEN 1 END)
                 / count(*), 1) AS match_rate_pct
    FROM orders
    """,
)

_register(
    "events_by_type",
    lambda spark, sf: _q(spark, sf, lambda s: (
        s.table("events").groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 2).alias("total_value"))
    )),
    """
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY event_type
    """,
)

_register(
    "distinct_blocks",
    lambda spark, sf: _q(spark, sf, lambda s: (
        s.table("er_ref").agg(
            F.countDistinct("postcode").alias("n_blocks"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )),
    _with_er("SELECT count(DISTINCT postcode) AS n_blocks, count(*) AS n_rows FROM er_ref"),
)


# ---------- B. entity-resolution operators over pseudo addresses ----------

_register(
    "er_minimal_standardise",
    lambda spark, sf: _q(spark, sf, lambda s: (
        s.table("er_search")
        .withColumn("full_addr", F.concat_ws(" ", F.col("body"), F.col("postcode")))
        .select(
            "record_id",
            F.trim(S.remove_postcode(F.trim(F.col("full_addr"))))
            .alias("address_stand"),
        )
    )),
    _with_er(r"""
    SELECT record_id,
           trim(lower(regexp_replace(upper(trim(body || ' ' || postcode)),
             '\b(?:[A-Z][A-HJ-Y]?[0-9][0-9A-Z]? ?[0-9][A-Z]{2}|GIR ?0A{2})\b$|(?:[A-Z][A-HJ-Y]?[0-9][0-9A-Z]? ?[0-9]{1}?)$|\b(?:[A-Z][A-HJ-Y]?[0-9][0-9A-Z]?)\b$',
             '', 'g'))) AS address_stand
    FROM er_search
    """),
)

_register(
    "er_synonym_expansion",
    lambda spark, sf: _q(spark, sf, lambda s: (
        s.table("er_search")
        .select("record_id", S.apply_synonyms(F.col("body")).alias("expanded"))
    )),
    _with_er(f"SELECT record_id, {synonyms_oracle_expr('body')} AS expanded FROM er_search"),
)

_register(
    "er_block_pair_counts",
    lambda spark, sf: _q(spark, sf, lambda s: (
        # pair COUNTS need no pair rows (guide §2.3, aggregate before you
        # shuffle): count each side per block and multiply — the inner
        # equi-join's per-block cardinality is exactly sc×rc.  The
        # previous form materialised the salted block join (~12.5M pair
        # rows at sf0.1, ref side replicated 4×) just to count it.
        s.table("er_search").groupBy(F.col("postcode").alias("bk"))
        .agg(F.count(F.lit(1)).alias("__sc"))
        .join(
            s.table("er_ref").groupBy(F.col("postcode").alias("bk"))
            .agg(F.count(F.lit(1)).alias("__rc")),
            "bk",
        )
        .select("bk", (F.col("__sc") * F.col("__rc")).alias("n_pairs"))
    )),
    _with_er("""
    SELECT s.postcode AS bk, count(*) AS n_pairs
    FROM er_search s JOIN er_ref r ON s.postcode = r.postcode
    GROUP BY s.postcode
    """),
)

_register(
    "er_semi_join_active_ref",
    lambda spark, sf: _q(spark, sf, lambda s: (
        blocking.prefilter_ref(
            s.table("er_ref").withColumnRenamed("postcode", "bk"),
            s.table("er_search").select(F.col("postcode").alias("bk")),
            "bk",
        ).agg(F.count(F.lit(1)).alias("n_active_ref"))
    )),
    _with_er("""
    SELECT count(*) AS n_active_ref FROM er_ref
    WHERE postcode IN (SELECT postcode FROM er_search)
    """),
)

_register(
    "er_levenshtein_best",
    lambda spark, sf: _q(spark, sf, lambda s: (
        # numbered repartition BEFORE the (broadcast) join: without it the
        # pair fan-out + levenshtein run on the parquet scan's 1-2 splits
        # (the ref side broadcasts, so the join inherits the left side's
        # partitioning; AQE can't help a stage it sizes by input bytes)
        s.table("er_search")
        .repartition(s.sparkContext.defaultParallelism * 4)
        .alias("s")
        .join(s.table("er_ref").alias("r"), F.col("s.postcode") == F.col("r.postcode"))
        # project the levenshtein ONCE before aggregating
        .select(
            "record_id", "ref_id",
            F.levenshtein(F.col("s.body"), F.col("r.body")).alias("lev"),
        )
        # arg-min as a MAP-SIDE PARTIAL AGGREGATE (guide §2.3 "aggregate
        # before you shuffle"), not a row_number window: the ~12.5M-pair
        # fan-out partial-aggregates to ≤ n_records rows per map
        # partition before the exchange, where the window shuffled and
        # sorted every pair row.  (lev, ref_id) lexicographic min is
        # packed into ONE bigint (lev << 40 | ref_id) so the aggregate
        # stays a codegen'd HashAggregate — min(struct(...)) planned as
        # a SortAggregate and measured SLOWER than the window (5.2 s vs
        # 3.5 s; the packed min is 1.9-2.3 s).  Bounds: lev ≤ body
        # length < 2^23, 0 ≤ ref_id = c_custkey < 2^40 at any TPC-H SF.
        .groupBy("record_id")
        .agg(F.min(F.col("lev").cast("bigint") * F.lit(1 << 40)
                   + F.col("ref_id")).alias("__m"))
        .select("record_id",
                F.col("__m").bitwiseAND(F.lit((1 << 40) - 1)).alias("ref_id"),
                F.shiftright(F.col("__m"), 40).cast("int").alias("lev"))
    )),
    _with_er("""
    SELECT record_id, ref_id, lev FROM (
      SELECT s.record_id, r.ref_id, levenshtein(s.body, r.body) AS lev,
             row_number() OVER (PARTITION BY s.record_id
                                ORDER BY levenshtein(s.body, r.body) ASC,
                                         r.ref_id ASC) rn
      FROM er_search s JOIN er_ref r ON s.postcode = r.postcode) t
    WHERE rn = 1
    """),
)

_register(
    "er_jaro_winkler_scores",
    lambda spark, sf: _q(spark, sf, lambda s: (
        s.table("er_search").alias("s")
        .join(s.table("er_ref").alias("r"),
              F.col("true_ref_id") == F.col("ref_id"))
        .select(
            "record_id", "ref_id",
            F.round(
                scoring.jaro_winkler_udf(F.col("s.body"), F.col("r.body")), 4
            ).alias("jw"),
        )
    )),
    _with_er("""
    SELECT record_id, ref_id,
           round(jaro_winkler_similarity(s.body, r.body), 4) AS jw
    FROM er_search s JOIN er_ref r ON s.true_ref_id = r.ref_id
    """),
)

_register(
    "er_weighted_field_score",
    lambda spark, sf: _q(spark, sf, lambda s: (
        # per-SIDE pre-projection (round 8, guide §2.3 "project before
        # the exchange"): the number extract and street strip depend
        # only on the search row, so they run once per ROW here instead
        # of once per PAIR after the block join (the before-plan shows
        # regexp_replace inside the ArrowEvalPython args and
        # regexp_extract in the score projection, both per pair over
        # the ~12.5M-pair fan-out) — measured 29 s → ~2.2 s together
        # with the repartition below
        s.table("er_search")
        .select(
            "record_id", "postcode",
            F.regexp_extract(F.col("body"), r"^(\d+)", 1).alias("__pn_s"),
            F.regexp_replace(F.col("body"), r"^[\d\- ]+", "")
            .alias("__street_s"),
        )
        # numbered repartition BEFORE the broadcast join — without it the
        # pair fan-out + JW UDF run on the parquet scan's 1-2 splits
        # (same trap er_levenshtein_best documents)
        .repartition(s.sparkContext.defaultParallelism)
        .join(
            s.table("er_ref").select(
                "ref_id", F.col("postcode").alias("__pc_r"),
                "pao_number", "street",
            ),
            F.col("postcode") == F.col("__pc_r"),
        )
        .select(
            "record_id", "ref_id",
            F.round(
                2.0 * scoring.exact_similarity(
                    F.col("__pn_s"), F.col("pao_number"))
                + 2.0 * scoring.jaro_winkler_udf(
                    F.col("__street_s"), F.col("street"))
                + 0.5 * scoring.levenshtein_similarity(
                    F.col("postcode"), F.col("__pc_r")),
                4,
            ).alias("score"),
        )
        .withColumn("matched", F.col("score") >= F.round(F.lit(4.5) * 0.987, 4))
    )),
    _with_er(r"""
    SELECT record_id, ref_id, score, score >= round(4.5 * 0.987, 4) AS matched
    FROM (
      SELECT s.record_id, r.ref_id,
             round(
               2.0 * (CASE WHEN regexp_extract(s.body, '^(\d+)', 1) = r.pao_number
                           THEN 1.0 ELSE 0.0 END)
             + 2.0 * jaro_winkler_similarity(
                   regexp_replace(s.body, '^[\d\- ]+', '', 'g'), r.street)
             + 0.5 * (1.0 - levenshtein(s.postcode, r.postcode) /
                      greatest(length(s.postcode), length(r.postcode))), 4)
             AS score
      FROM er_search s JOIN er_ref r ON s.postcode = r.postcode) t
    """),
)


def _cc_edges(s):
    """Small deterministic graph: order-node ↔ part-node from lineitem."""
    return (
        s.table("lineitem")
        .filter(F.col("l_partkey") < 40)
        .select(
            (F.col("l_orderkey") + 1_000_000).alias("src"),
            F.col("l_partkey").cast("long").alias("dst"),
        )
        .distinct()
    )


def _cc_labels(s):
    from address_matcher_spark.operators.cluster import connected_components

    return connected_components(_cc_edges(s))


_CC_ORACLE = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT l_orderkey + 1000000 AS src, CAST(l_partkey AS BIGINT) AS dst
  FROM lineitem WHERE l_partkey < 40),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(node, lbl) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.node)
SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node
"""

_register(
    "er_connected_components",
    lambda spark, sf: _q(spark, sf, lambda s: _cc_labels(s)),
    _CC_ORACLE,
)

_register(
    "er_cluster_size_histogram",
    lambda spark, sf: _q(spark, sf, lambda s: (
        _cc_labels(s).groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size"))
        .groupBy("size").agg(F.count(F.lit(1)).alias("n_clusters"))
    )),
    f"""
    WITH labels AS ({_CC_ORACLE})
    SELECT size, count(*) AS n_clusters FROM (
      SELECT cluster_id, count(*) AS size FROM labels GROUP BY cluster_id) t
    GROUP BY size
    """,
)


# ---------- C. training-data operators over documents/embeddings ----------

_register(
    "dedup_exact",
    lambda spark, sf: _q(spark, sf, lambda s: (
        dedup.exact_duplicates(s.table("documents"))
    )),
    """
    SELECT md5(text) AS content_hash, count(*) AS n_copies,
           min(doc_id) AS keeper_id
    FROM documents GROUP BY md5(text) HAVING count(*) > 1
    """,
)

_register(
    "dedup_ngram_jaccard",
    lambda spark, sf: _q(spark, sf, lambda s: (
        dedup.ngram_jaccard_pairs(s.table("documents"), threshold=0.8)
    )),
    r"""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_transform(
                 generate_series(1, greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 2, 0)),
                 i -> array_to_string(
                   list_slice(regexp_extract_all(lower(text), '[a-z0-9]+'), i, i + 2), ' ')
               ))) AS shingle
      FROM documents),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
    freq AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000),
    shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN freq USING (shingle)),
    common AS (
      SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
      FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT a, b,
           round(common / (sa.n_shingles + sb.n_shingles - common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = a
    JOIN sizes sb ON sb.doc_id = b
    WHERE round(common / (sa.n_shingles + sb.n_shingles - common), 6) >= 0.8
    """,
)

_register(
    "dedup_minhash_signatures",
    lambda spark, sf: _q(spark, sf, lambda s: (
        s.table("documents").filter(F.col("doc_id") < 50)
        .select("doc_id", *dedup.minhash_signature_cols(F.col("text")))
    )),
    f"""
    SELECT doc_id, {', '.join(minhash_oracle_exprs())}
    FROM documents WHERE doc_id < 50
    """,
)

_register(
    "dedup_minhash_lsh_pairs",
    lambda spark, sf: _q(spark, sf, lambda s: (
        dedup.minhash_lsh_pairs(s.table("documents"))
    )),
    f"""
    WITH sig AS (
      SELECT doc_id, {', '.join(minhash_oracle_exprs())} FROM documents),
    bands AS (
      SELECT doc_id, 0 AS band,
             concat(cast(mh0 AS string), ':', cast(mh1 AS string), ':', cast(mh2 AS string)) AS band_sig FROM sig
      UNION ALL
      SELECT doc_id, 1,
             concat(cast(mh3 AS string), ':', cast(mh4 AS string), ':', cast(mh5 AS string)) FROM sig
      UNION ALL
      SELECT doc_id, 2,
             concat(cast(mh6 AS string), ':', cast(mh7 AS string), ':', cast(mh8 AS string)) FROM sig
      UNION ALL
      SELECT doc_id, 3,
             concat(cast(mh9 AS string), ':', cast(mh10 AS string), ':', cast(mh11 AS string)) FROM sig)
    SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    """,
)

_register(
    "text_stats",
    lambda spark, sf: _q(spark, sf, lambda s: (
        textstats.document_stats(s.table("documents"))
        .drop("mean_word_len", "quality")  # FP-division-sensitive; tested in pytest
    )),
    rf"""
    SELECT doc_id,
           len(regexp_extract_all(text, '\S+')) AS n_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens,
           length(text) AS n_chars,
           round(length(regexp_replace(text, '[^!-/:-@\[-`{{-~]', '', 'g'))
                 / greatest(length(text), 1), 6) AS punct_ratio,
           CASE
             WHEN {stopword_count_oracle('text', 'fr')} >= greatest({stopword_count_oracle('text', 'en')}, {stopword_count_oracle('text', 'de')}, {stopword_count_oracle('text', 'fr')})
                  AND {stopword_count_oracle('text', 'fr')} > 0 THEN 'fr'
             WHEN {stopword_count_oracle('text', 'de')} >= greatest({stopword_count_oracle('text', 'en')}, {stopword_count_oracle('text', 'de')}, {stopword_count_oracle('text', 'fr')})
                  AND {stopword_count_oracle('text', 'de')} > 0 THEN 'de'
             WHEN {stopword_count_oracle('text', 'en')} >= greatest({stopword_count_oracle('text', 'en')}, {stopword_count_oracle('text', 'de')}, {stopword_count_oracle('text', 'fr')})
                  AND {stopword_count_oracle('text', 'en')} > 0 THEN 'en'
             ELSE 'und'
           END AS lang_pred,
           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
           list_min(list_transform(
             list_transform(
               generate_series(1, greatest(length(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) - 4, 1)),
               i -> substring(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), i, 5)),
             g -> cast(('0x' || substring(md5(g), 1, 8)) AS bigint))) AS min_gram_hash
    FROM documents
    """,
)


# PII scrub: the synthetic corpus carries no PII, so the query
# deterministically augments each doc with synthetic email/IP/phone
# strings (mirrored verbatim in the oracle) before scrubbing — the
# operator is exercised on real matches, not vacuous zero counts.
def _pii_aug_col():
    return F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.org"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit(" from 10."),
                        (F.col("doc_id") % 256).cast("string"),
                        F.lit(".0.1"))).otherwise(F.lit("")),
        F.lit(" tel 555-"),
        (F.col("doc_id") % 9000 + 1000).cast("string"),
    )


_PII_AUG_SQL = (
    "SELECT doc_id, text"
    " || CASE WHEN doc_id % 3 = 0 THEN ' contact user'"
    " || cast(doc_id AS varchar) || '@example.org' ELSE '' END"
    " || CASE WHEN doc_id % 2 = 0 THEN ' from 10.'"
    " || cast(doc_id % 256 AS varchar) || '.0.1' ELSE '' END"
    " || ' tel 555-' || cast(doc_id % 9000 + 1000 AS varchar) AS text"
    " FROM documents"
)

_PII_SCRUB_SQL = (
    f"regexp_replace(regexp_replace(regexp_replace(text, "
    f"'{textstats.PII_EMAIL_RE}', '<EMAIL>', 'g'), "
    f"'{textstats.PII_IPV4_RE}', '<IP>', 'g'), "
    f"'{textstats.PII_PHONE_RE}', '<PHONE>', 'g')"
)

_register(
    "pii_scrub",
    lambda spark, sf: _q(spark, sf, lambda s: (
        textstats.pii_scrub(
            s.table("documents").select("doc_id", _pii_aug_col().alias("text"))
        )
    )),
    f"""
    WITH aug AS ({_PII_AUG_SQL})
    SELECT doc_id,
           len(regexp_extract_all(text, '{textstats.PII_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{textstats.PII_IPV4_RE}')) AS n_ipv4,
           len(regexp_extract_all(text, '{textstats.PII_PHONE_RE}')) AS n_phones,
           md5({_PII_SCRUB_SQL}) AS scrubbed_hash,
           length({_PII_SCRUB_SQL}) AS n_scrubbed_chars
    FROM aug
    """,
)

# Line-level boilerplate (CCNet/RefinedWeb): the synthetic corpus has no
# newlines, so the query derives "lines" by splitting on a frequent
# token — the operator itself defaults to '\n'.
_register(
    "line_boilerplate_stats",
    lambda spark, sf: _q(spark, sf, lambda s: (
        textstats.line_boilerplate_stats(
            s.table("documents"), split_re=" the ", min_docs=2
        )
    )),
    """
    WITH dl AS (
      SELECT DISTINCT doc_id, trim(line) AS line
      FROM (SELECT doc_id, unnest(string_split(text, ' the ')) AS line
            FROM documents)
      WHERE length(trim(line)) > 0),
    freq AS (SELECT line FROM dl GROUP BY line HAVING count(*) >= 2)
    SELECT dl.doc_id, count(*) AS n_lines,
           count(freq.line) AS n_boiler_lines
    FROM dl LEFT JOIN freq ON dl.line = freq.line
    GROUP BY dl.doc_id
    """,
)


# URL canonicalization: the synthetic corpus has no url column, so the
# query constructs one deterministically (mixed-case host, www. prefix,
# utm_* params, fragment — every normalisation rule gets exercised),
# mirrored verbatim in the oracle.
def _url_aug_col():
    return F.concat(
        F.lit("https://WWW."), F.col("source"), F.lit(".Example.org/page/"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("?utm_source=u"), F.col("doc_id").cast("string"),
        F.lit("&ref=r"), (F.col("doc_id") % 3).cast("string"),
        F.lit("#s"), F.col("doc_id").cast("string"),
    )


_URL_AUG_SQL = (
    "SELECT doc_id, 'https://WWW.' || source || '.Example.org/page/'"
    " || cast(doc_id % 5 AS varchar) || '?utm_source=u'"
    " || cast(doc_id AS varchar) || '&ref=r'"
    " || cast(doc_id % 3 AS varchar) || '#s'"
    " || cast(doc_id AS varchar) AS url FROM documents"
)

_URL_KEEP_SQL = (
    "list_sort(list_filter(string_split("
    "regexp_extract(url, '\\?([^#]*)', 1), '&'),"
    " x -> x <> '' AND NOT starts_with(x, 'utm_')))"
)

_register(
    "url_canonicalize",
    lambda spark, sf: _q(spark, sf, lambda s: (
        textstats.url_canonicalize(
            s.table("documents").select("doc_id", _url_aug_col().alias("url"))
        )
    )),
    f"""
    WITH u AS ({_URL_AUG_SQL}),
    p AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*):', 1)) AS scheme,
             regexp_replace(lower(regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^www\\.', '') AS host,
             regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
             {_URL_KEEP_SQL} AS keep
      FROM u),
    c AS (
      SELECT doc_id, host,
             scheme || '://' || host
             || (CASE WHEN path = '' THEN '/' ELSE path END)
             || (CASE WHEN len(keep) > 0
                      THEN '?' || array_to_string(keep, '&')
                      ELSE '' END) AS canonical_url
      FROM p)
    SELECT doc_id, canonical_url, host,
           doc_id = min(doc_id) OVER (PARTITION BY canonical_url) AS is_keeper
    FROM c
    """,
)


def _query_vec(dim: int = 64) -> list[float]:
    return [((d * 37 + 11) % 101 - 50) / 50.0 for d in range(dim)]


def _u01_sql(key_sql: str) -> str:
    """DuckDB expression mirroring textstats._md5_u01 digit by digit."""
    expr = "0"
    for i in range(1, 7):
        expr = (f"({expr} * 16 + strpos('0123456789abcdef',"
                f" substr(md5({key_sql}), {i}, 1)) - 1)")
    return f"cast({expr} AS double) / 16777216.0"


def _qvec_sql() -> str:
    return "[" + ", ".join(f"{v!r}" for v in _query_vec()) + "]"


_register(
    "ann_cosine_topk",
    lambda spark, sf: _q(spark, sf, lambda s: (
        similarity.cosine_topk(s.table("embeddings"), _query_vec(), k=10)
    )),
    f"""
    WITH scored AS (
      SELECT vec_id,
             round(
               list_sum(list_transform(list_zip(embedding, {_qvec_sql()}),
                        p -> cast(p[1] AS double) * cast(p[2] AS double)))
               / (sqrt(list_sum(list_transform(embedding,
                        x -> cast(x AS double) * cast(x AS double))))
                  * sqrt(list_sum(list_transform({_qvec_sql()},
                        x -> cast(x AS double) * cast(x AS double))))), 4)
             AS cosine
      FROM embeddings)
    SELECT vec_id, cosine FROM scored
    ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """,
)

_register(
    "ann_knn_join",
    lambda spark, sf: _q(spark, sf, lambda s: (
        similarity.knn_join_bruteforce(
            s.table("embeddings").filter(F.col("vec_id") < 10),
            s.table("embeddings"), k=3,
        )
    )),
    """
    SELECT qid, cid, cosine, rank FROM (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             round(
               list_sum(list_transform(list_zip(q.embedding, c.embedding),
                        p -> cast(p[1] AS double) * cast(p[2] AS double)))
               / (sqrt(list_sum(list_transform(q.embedding,
                        x -> cast(x AS double) * cast(x AS double))))
                  * sqrt(list_sum(list_transform(c.embedding,
                        x -> cast(x AS double) * cast(x AS double))))), 4)
             AS cosine,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY round(
                 list_sum(list_transform(list_zip(q.embedding, c.embedding),
                          p -> cast(p[1] AS double) * cast(p[2] AS double)))
                 / (sqrt(list_sum(list_transform(q.embedding,
                          x -> cast(x AS double) * cast(x AS double))))
                    * sqrt(list_sum(list_transform(c.embedding,
                          x -> cast(x AS double) * cast(x AS double))))), 4) DESC,
               c.vec_id ASC) AS rank
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 10) t
    WHERE rank <= 3
    """,
)

def _decisions_combined(spark, sf):
    """Shared core of er_pipeline_decisions / er_pipeline_clusters: the
    REAL keep_max_score → add_decisions → best_match → combine_passes
    chain over a DETERMINISTIC pre-scored pair table (the score is
    SQL-expressible: 100 ⇔ standardised-string equality, else a seeded
    71-90 value), so the composition gets a full rows+schema+hash oracle.
    Only the fuzzy kernel itself stays rows-only.  A 1-in-13 slice is made
    digit-free to exercise D2 (limit raised to 100) and D3 (street pass
    never matches digit-free).  Ref semantics tools/fuzzy_match.py:233-318,
    tools/matcher_funcs.py:1489-1523."""
    register_views(spark, sf)
    from address_matcher_spark.operators import select as sel
    from address_matcher_spark.operators import verify

    smod = F.when(
        F.col("record_id") % 13 == 0,
        F.regexp_replace(F.lower(F.col("body")), "[0-9]", ""),
    ).otherwise(F.lower(F.col("body")))
    s2 = spark.table("er_search").select(
        "record_id", "variant",
        smod.alias("search_mod_address"),
        F.col("postcode"),
        F.col("postcode").alias("__bk"),
        F.regexp_extract(smod, r"^(\d+)", 1).alias("property_number_search"),
    )
    r2 = spark.table("er_ref").select(
        "ref_id",
        F.lower(F.col("body")).alias("reference_mod_address"),
        F.col("postcode").alias("postcode_ref"),
        F.col("postcode").alias("__bk"),
        F.col("pao_number").alias("property_number_reference"),
    )
    # numbered repartition before the broadcast join: the er_search view
    # scans 1-2 parquet splits, and without this the ~12.5M-pair fan-out
    # runs on those 1-2 tasks (round 8; same trap er_levenshtein_best
    # documents)
    s2 = s2.repartition(spark.sparkContext.defaultParallelism)
    pairs = s2.join(r2, "__bk").drop("__bk")
    score = F.when(
        F.col("search_mod_address") == F.col("reference_mod_address"),
        F.lit(100.0),
    ).otherwise(
        F.round(F.lit(90.0) - (F.col("record_id") + F.col("ref_id")) % 20, 1)
    )
    pairs = pairs.withColumn("fuzzy_score", score)
    for f in verify.FIELDS:
        if f == "property_number":
            continue
        pairs = pairs.withColumn(f"{f}_search", F.lit(None).cast("string"))
        pairs = pairs.withColumn(f"{f}_reference", F.lit(None).cast("string"))

    # Per-record arg-max PRE-PRUNE (round 8, guide §2.3): both passes'
    # maxima come out of ONE map-side partial aggregate (shuffle ∝
    # records, not pairs) and are broadcast back, so only max-tying rows
    # ever reach the keep_max_score window — the window previously
    # shuffled the whole pair fan-out per pass.  Filtering score ==
    # per-record max before keep_max_score keeps exactly the rows the
    # window would keep (ties included), so the composed chain below is
    # row-identical.
    mx = pairs.groupBy("record_id").agg(
        F.max(F.when(F.col("variant") <= 1, F.col("fuzzy_score")))
        .alias("__mx1"),
        F.max("fuzzy_score").alias("__mx2"),
    )
    pruned = pairs.join(F.broadcast(mx), "record_id")

    def one_pass(pdf, blocker, method):
        out = sel.keep_max_score(pdf, "record_id")
        out = verify.add_decisions(out, blocker)
        out = out.withColumn("wratio_score", F.lit(None).cast("double"))
        out = sel.best_match(out, "record_id")
        return out.withColumn("match_method", F.lit(method))

    p1 = one_pass(
        pruned.filter((F.col("variant") <= 1)
                      & (F.col("fuzzy_score") == F.col("__mx1")))
        .drop("__mx1", "__mx2"),
        "Postcode", "pc",
    )
    p2 = one_pass(
        pruned.filter(F.col("fuzzy_score") == F.col("__mx2"))
        .drop("__mx1", "__mx2"),
        "Street", "st",
    )
    return sel.combine_passes([p1, p2], key="record_id")


def _pipeline_decisions_q(spark, sf):
    """D1-D7 + W1/W2: see _decisions_combined."""
    return _decisions_combined(spark, sf).select(
        "record_id", "ref_id", "fuzzy_score", "fuzzy_score_match",
        "full_number_match", "close_postcode_match", "full_match",
        "match_method",
    )


def _pipeline_clusters_q(spark, sf):
    """W2/W3 + O5/O6 composition (VERDICT r5 'Next round' #5): the REAL
    select.combine_passes → cluster_records chain over the same
    deterministic pre-scored pair table as er_pipeline_decisions — full
    rows+schema+hash oracle.
    cluster_records' internal id is an xxhash64-of-node convention the
    oracle can't reproduce, so the query canonicalises it to the min
    record_id per component (a pure relabeling: one window over the
    cluster id).  The real-fuzzy-waterfall → clusters composition stays
    hash-pinned in tests/test_rows_only_golden.py."""
    from address_matcher_spark.operators.cluster import cluster_records

    clustered = cluster_records(_decisions_combined(spark, sf))
    w = Window.partitionBy("cluster_id")
    return clustered.select(
        "record_id",
        "ref_id",
        F.min("record_id").over(w).alias("cluster_label"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


_PIPELINE_DECISIONS_SQL = _with_er(r"""
    , pairs AS (
      SELECT s.record_id, r.ref_id, s.variant,
             CASE WHEN s.record_id % 13 = 0
                  THEN regexp_replace(lower(s.body), '[0-9]', '', 'g')
                  ELSE lower(s.body) END AS smod,
             lower(r.body) AS rmod,
             s.postcode AS pc_s, r.postcode AS pc_r,
             regexp_extract(CASE WHEN s.record_id % 13 = 0
                  THEN regexp_replace(lower(s.body), '[0-9]', '', 'g')
                  ELSE lower(s.body) END, '^(\d+)', 1) AS pn_s,
             r.pao_number AS pn_r
      FROM er_search s JOIN er_ref r ON s.postcode = r.postcode),
    scored AS (
      SELECT *, CASE WHEN smod = rmod THEN 100.0
                     ELSE round(90.0 - (record_id + ref_id) % 20, 1)
                END AS fuzzy_score
      FROM pairs),
    dec AS (
      SELECT record_id, ref_id, variant, fuzzy_score,
             length(regexp_replace(smod, '[^0-9]', '', 'g')) = 0 AS no_num,
             (coalesce(pn_s, '') = coalesce(pn_r, '')) AS full_number_match,
             (substr(replace(lower(pc_s), ' ', ''), 1,
                     greatest(length(replace(lower(pc_s), ' ', '')) - 2, 0)) =
              substr(replace(lower(pc_r), ' ', ''), 1,
                     greatest(length(replace(lower(pc_r), ' ', '')) - 2, 0)))
               AS close_postcode_match
      FROM scored),
    p1 AS (
      SELECT *,
             CASE WHEN no_num THEN fuzzy_score >= 100.0
                  ELSE fuzzy_score >= 85.0 END AS fuzzy_score_match
      FROM dec WHERE variant <= 1
      QUALIFY fuzzy_score = max(fuzzy_score) OVER (PARTITION BY record_id)),
    best1 AS (
      SELECT record_id, ref_id, fuzzy_score, fuzzy_score_match,
             full_number_match, close_postcode_match,
             (fuzzy_score_match AND full_number_match
              AND close_postcode_match) AS full_match,
             'pc' AS match_method
      FROM p1
      QUALIFY row_number() OVER (PARTITION BY record_id ORDER BY
          (fuzzy_score_match AND full_number_match AND close_postcode_match)
            DESC,
          full_number_match DESC, fuzzy_score DESC, ref_id) = 1),
    p2 AS (
      SELECT *,
             CASE WHEN no_num THEN FALSE
                  ELSE fuzzy_score >= 85.0 END AS fuzzy_score_match
      FROM dec
      QUALIFY fuzzy_score = max(fuzzy_score) OVER (PARTITION BY record_id)),
    best2 AS (
      SELECT record_id, ref_id, fuzzy_score, fuzzy_score_match,
             full_number_match, close_postcode_match,
             (fuzzy_score_match AND full_number_match
              AND close_postcode_match) AS full_match,
             'st' AS match_method
      FROM p2
      QUALIFY row_number() OVER (PARTITION BY record_id ORDER BY
          (fuzzy_score_match AND full_number_match AND close_postcode_match)
            DESC,
          full_number_match DESC, fuzzy_score DESC, ref_id) = 1),
    un AS (
      SELECT *, 0 AS pass_priority FROM best1
      UNION ALL
      SELECT *, 1 AS pass_priority FROM best2)
    SELECT record_id, ref_id, fuzzy_score, fuzzy_score_match,
           full_number_match, close_postcode_match, full_match, match_method
    FROM un
    QUALIFY row_number() OVER (PARTITION BY record_id
        ORDER BY full_match DESC, pass_priority) = 1
    """)

_register("er_pipeline_decisions", _pipeline_decisions_q,
          _PIPELINE_DECISIONS_SQL)


# transitive closure over the bipartite full_match graph (record ↔ ref):
# the decisions CTE supplies the matched pairs, `reach` walks
# record→ref→record→ref chains to a fixpoint, and each record's cluster
# label is the min record id over every record sharing a reachable ref —
# exactly connected_components' hash-to-min convention after the query's
# canonical relabeling.  (combine_passes keeps one best ref per record,
# so components are stars around refs; the recursive form stays correct
# if that ever changes.)
_PIPELINE_CLUSTERS_SQL = f"""
    WITH RECURSIVE matched AS (
      SELECT record_id, ref_id FROM ({_PIPELINE_DECISIONS_SQL}) d
      WHERE d.full_match),
    reach(record_id, ref_id) AS (
      SELECT record_id, ref_id FROM matched
      UNION
      SELECT r.record_id, m2.ref_id
      FROM reach r
      JOIN matched m ON m.ref_id = r.ref_id
      JOIN matched m2 ON m2.record_id = m.record_id),
    lab AS (
      SELECT r.record_id, min(m.record_id) AS cluster_label
      FROM reach r JOIN matched m ON m.ref_id = r.ref_id
      GROUP BY r.record_id)
    SELECT m.record_id, m.ref_id, l.cluster_label,
           count(*) OVER (PARTITION BY l.cluster_label) AS cluster_size
    FROM matched m JOIN lab l USING (record_id)
    """

_register("er_pipeline_clusters", _pipeline_clusters_q,
          _PIPELINE_CLUSTERS_SQL)


# ---------- D. rows-only entries (not SQL-expressible) ---------------------


def _pipeline_rows_only(spark, sf):
    """The real fuzzy waterfall on synthetic pages (token_set_ratio is not
    SQL-expressible — rows-only check; output hash-pinned at the fixed
    seed in tests/test_rows_only_golden.py, kernel parity in pytest)."""
    from address_matcher_spark import datagen
    from address_matcher_spark.plans import pipeline as P

    fx = datagen.generate(datagen.Scale(n_ref=300, n_search=200))
    pages = spark.createDataFrame(fx["pages"])
    cfg = P.MatchConfig(run_field_passes=False)
    search = P.prepare_search(P.search_from_pages(pages), cfg)
    ref = P.prepare_reference(spark.createDataFrame(fx["reference_addresses"]))
    res = P.run_waterfall(
        P.standardise_search(search, False), P.standardise_search(search, True),
        P.standardise_reference(ref, False), P.standardise_reference(ref, True),
        cfg,
    )
    return res.select("record_id", "ref_id", "fuzzy_score", "full_match",
                      "match_method")


def _ann_lsh_rows_only(spark, sf):
    register_views(spark, sf)
    return similarity.lsh_topk(spark.table("embeddings"), _query_vec(), k=10)


def _simhash_rows_only(spark, sf):
    register_views(spark, sf)
    return dedup.simhash_buckets(spark.table("documents"))


def _multimodal_rows_only(spark, sf):
    """Rows-only (payload decode is not SQL-expressible); output
    hash-pinned in tests/test_rows_only_golden.py, decoder parity vs
    independently-written encoders in tests/test_training_ops.py."""
    register_views(spark, sf)
    from address_matcher_spark.operators import multimodal as M

    binary_docs = spark.table("documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    meta = M.media_metadata(binary_docs, "payload", "doc_id")
    feats = M.extract_features(binary_docs, "payload", "doc_id")
    return meta.join(feats, meta["id"] == feats["id"]).select(
        meta["id"], "n_bytes", meta["media_type"], "width", "height", "decoded"
    )


def _single_address_rows_only(spark, sf):
    """EP2: the reference's single-address textbox path (app.py's textbox
    input → tools/preparation.py:17-51) — a ONE-ROW search frame through
    the same api.match_addresses call the batch path uses, against a
    last-column-is-postcode reference extract (exercising the S3 coercion
    too).  Cheap insurance the one-call user API stays healthy under the
    driver's default session.  Rows-only: the waterfall's fuzzy kernel is
    not SQL-expressible; output hash-pinned in
    tests/test_rows_only_golden.py."""
    register_views(spark, sf)
    from address_matcher_spark import api

    s = spark.table("er_search").filter(F.col("record_id") == 1).select(
        "record_id",
        F.col("body").alias("address_line1"),
        F.lit("").alias("address_line2"),
        F.lit("").alias("town"),
        "postcode",
    )
    r = spark.table("er_ref").select(
        "ref_id",
        F.concat_ws(" ", F.col("pao_number"), F.col("street")).alias("addr"),
        F.col("postcode").alias("pc"),
    )
    res = api.match_addresses(s, r, ref_address_cols=["addr", "pc"])
    return res.results.select(
        "record_id", "ref_id", "fuzzy_score", "full_match", "match_method"
    )


_register("er_pipeline_fuzzy_waterfall", _pipeline_rows_only, None)
_register("er_single_address_api", _single_address_rows_only, None)
_register("ann_lsh_topk", _ann_lsh_rows_only, None)
_register("dedup_simhash_buckets", _simhash_rows_only, None)
_register("multimodal_decode_stub", _multimodal_rows_only, None)


# ---------- E. standardisation predicates with SQL oracles ----------------

_register(
    "er_extract_postcode",
    lambda spark, sf: _q(spark, sf, lambda s: (
        s.table("er_search")
        .withColumn("full_addr", F.concat_ws(" ", F.col("body"), F.col("postcode")))
        .select("record_id", S.extract_postcode(F.col("full_addr")).alias("pc_extracted"))
    )),
    _with_er(r"""
    SELECT record_id,
           nullif(regexp_extract(upper(body || ' ' || postcode),
             '(\b(?:[A-Z][A-HJ-Y]?[0-9][0-9A-Z]? ?[0-9][A-Z]{2})|((GIR ?0A{2})\b$)|(?:[A-Z][A-HJ-Y]?[0-9][0-9A-Z]? ?[0-9]{1}?)$)|(\b(?:[A-Z][A-HJ-Y]?[0-9][0-9A-Z]?)\b$)',
             1), '') AS pc_extracted
    FROM er_search
    """),
)

# exclusion flags need addresses that actually trip the rules: inject the
# trigger words deterministically on a key-derived subset
_EXCL_AUG = (
    "CASE WHEN record_id % 31 = 0 THEN concat(body, ' garage') "
    "WHEN record_id % 31 = 1 THEN concat('parking space ', body) "
    "WHEN record_id % 31 = 2 THEN concat(street, ' house') "
    "ELSE body END"
)

_register(
    "er_exclusion_flags",
    lambda spark, sf: _q(spark, sf, lambda s: (
        s.table("er_search")
        .withColumn(
            "aug",
            F.when(F.col("record_id") % 31 == 0,
                   F.concat(F.col("body"), F.lit(" garage")))
            .when(F.col("record_id") % 31 == 1,
                  F.concat(F.lit("parking space "), F.col("body")))
            .when(F.col("record_id") % 31 == 2,
                  F.concat(
                      F.element_at(F.split(F.col("body"), " ", 2), 2),
                      F.lit(" house")))
            .otherwise(F.col("body")),
        )
        .select("record_id", S.exclusion_flag(F.col("aug")).alias("excluded"))
    )),
    _with_er(r"""
    SELECT record_id,
      CASE
        WHEN regexp_matches(lower(aug), '(?:\bgarage\b|\bgarages\b)')
          OR regexp_matches(lower(aug), '(?:\bparking\b)')
          OR regexp_matches(lower(aug), '(?:\bshed\b|\bsheds\b)')
          OR regexp_matches(lower(aug), '(?:\bbike\b|\bbikes\b)')
          OR regexp_matches(lower(aug), '(?:\bbicycle store\b)')
        THEN 'Excluded - non-postal address'
        WHEN NOT regexp_matches(lower(aug), '\d+')
        THEN 'Excluded - no numbers in address'
        ELSE NULL
      END AS excluded
    FROM (
      SELECT record_id,
        CASE WHEN record_id % 31 = 0 THEN body || ' garage'
             WHEN record_id % 31 = 1 THEN 'parking space ' || body
             WHEN record_id % 31 = 2 THEN
               array_to_string(string_split(body, ' ')[2:], ' ') || ' house'
             ELSE body END AS aug
      FROM er_search) t
    """),
)

_register(
    "er_street_block_keys",
    lambda spark, sf: _q(spark, sf, lambda s: (
        s.table("er_search")
        .select("record_id",
                S.extract_street_name(F.col("body")).alias("street_name"))
        .groupBy("street_name").agg(F.count(F.lit(1)).alias("n"))
    )),
    # The street pattern runs IDENTICALLY under Java regex (Spark) and
    # RE2 (DuckDB) for this shape: the greedy [\w\s]+ capture with a
    # literal-suffix alternation lands on the same span under Java's
    # leftmost-first backtracking and RE2's leftmost-longest — verified
    # empirically (0 divergences over the sf0.01 corpus AND a 3000-case
    # adversarial suffix-word-salad sweep; r1's rows-only caution was
    # over-conservative).  Byte-parity vs the reference additionally
    # pinned in tests/test_standardise_golden.py.
    _with_er(
        "SELECT coalesce(trim(regexp_extract(regexp_replace(upper(body), '"
        + _sql_quote_regex(S.PCODE_REMOVE_RE)
        + "', '', 'g'), '"
        + _sql_quote_regex(S._STREET_PATTERN)
        + "', 1)), '') AS street_name, count(*) AS n "
        "FROM er_search GROUP BY 1"
    ),
)


# ---------- F. pre-match co-filters + results join-back (F3/F4/J10/J11) ----

from address_matcher_spark.operators import cofilter  # noqa: E402


def _area_sql(col: str) -> str:
    despaced = f"regexp_replace(upper(trim({col})), '\\s', '', 'g')"
    return (
        f"substr({despaced}, 1, greatest(length({despaced}) - 2, 0))"
    )


def _area_cofilter_q(spark, sf):
    """F3: postcode-AREA co-filter labels (tools/matcher_funcs.py:567-606).
    A deterministic 1-in-7 slice of search rows gets an out-of-reference
    postcode and a 1-in-11 slice gets a blank address, exercising all three
    label branches including the length-0 precedence over the area label."""
    register_views(spark, sf)
    s = spark.table("er_search").withColumn(
        "postcode",
        F.when(F.col("record_id") % 7 == 0, F.lit("ZZ99 9ZZ")).otherwise(
            F.col("postcode")
        ),
    ).withColumn(
        "body",
        F.when(F.col("record_id") % 11 == 0, F.lit("  ")).otherwise(
            F.col("body")
        ),
    )
    r = spark.table("er_ref")
    labeled = cofilter.label_area_exclusions(
        s, r, "postcode", "postcode", address_cols=("body",)
    )
    return labeled.select("record_id", cofilter.EXCLUSION_COL)


_register(
    "er_area_cofilter",
    _area_cofilter_q,
    _with_er(f"""
    SELECT record_id,
           CASE WHEN record_id % 11 = 0 THEN 'Address length 0'
                WHEN area IN (
                  SELECT {_area_sql('postcode')} FROM er_ref
                  WHERE length({_area_sql('postcode')}) > 3)
                THEN 'Included in search'
                ELSE 'Postcode area not found' END AS excluded_from_search
    FROM (
      SELECT record_id,
             {_area_sql("CASE WHEN record_id % 7 = 0 THEN 'ZZ99 9ZZ' ELSE postcode END")} AS area
      FROM er_search) s
    """),
)


def _prior_exclusion_q(spark, sf):
    """F4/J11: previously-matched exclusion (tools/matcher_funcs.py:527-556).
    Prior results = a deterministic 1-in-5 slice marked full_match."""
    register_views(spark, sf)
    s = spark.table("er_search")
    prior = s.filter(F.col("record_id") % 5 == 0).select(
        "record_id", F.lit(True).alias("full_match")
    )
    _, labeled = cofilter.exclude_previously_matched(s, prior)
    return labeled.select("record_id", cofilter.EXCLUSION_COL)


_register(
    "er_prior_exclusion",
    _prior_exclusion_q,
    _with_er("""
    SELECT record_id,
           CASE WHEN record_id % 5 = 0 THEN 'Previously matched'
                ELSE 'Included in search' END AS excluded_from_search
    FROM er_search
    """),
)


def _join_to_orig_q(spark, sf):
    """J10: join full-match winners back onto the user's original frame
    with carried-column coalesce (tools/fuzzy_match.py:389-444)."""
    register_views(spark, sf)
    search = spark.table("er_search")
    ref = spark.table("er_ref")
    res = (
        search.filter(F.col("variant") <= 1)
        .join(ref, F.col("true_ref_id") == F.col("ref_id"))
        .select(
            "record_id",
            F.lit(True).alias("full_match"),
            ref["body"].alias("fulladdress"),
            (F.col("ref_id") + 10000).cast("long").alias("uprn"),
        )
    )
    orig = search.select(
        "record_id", F.col("body").alias("orig_address"), "postcode"
    )
    return cofilter.join_to_orig_df(res, orig, "record_id", join_cols=("uprn",))


_register(
    "er_join_to_orig",
    _join_to_orig_q,
    _with_er("""
    SELECT s.record_id, s.body AS orig_address, s.postcode,
           CASE WHEN s.variant <= 1 THEN r.body END AS ref_matched_address,
           (s.variant <= 1) AS matched_with_reference,
           CASE WHEN s.variant <= 1
                THEN CAST(r.ref_id + 10000 AS BIGINT) END AS uprn
    FROM er_search s LEFT JOIN er_ref r ON s.true_ref_id = r.ref_id
    """),
)


# ---------- G. oracles for the formerly rows-only LSH/simhash ops ---------
# Both are md5-derived and therefore engine-portable: the plane components
# and the query signature are recomputed here in pure Python from the SAME
# definitions the Spark operators use (hashlib md5 == JVM md5 == DuckDB md5).

import hashlib as _hashlib  # noqa: E402


def _plane_component_py(plane: int, dim: int) -> float:
    h = int(_hashlib.md5(f"plane:{plane}:{dim}".encode()).hexdigest()[:8], 16)
    return float(h % 2001 - 1000)


def _planes_py(n_planes: int, dim: int, band: int = 0) -> list[list[float]]:
    # band b draws the DISJOINT plane indices b*n_planes .. (b+1)*n_planes-1,
    # matching similarity.hyperplane_signature's band parameter
    return [
        [_plane_component_py(band * n_planes + p, d) for d in range(dim)]
        for p in range(n_planes)
    ]


def _hyperplane_sig_py(vec: list[float], n_planes: int) -> int:
    sig = 0
    for p, plane in enumerate(_planes_py(n_planes, len(vec))):
        dot = sum(v * c for v, c in zip(vec, plane))
        if dot >= 0:
            sig += 2 ** p
    return sig


def _lsh_oracle_sql(n_planes: int = 6, k: int = 10) -> str:
    qv = _query_vec()
    qsig = _hyperplane_sig_py(qv, n_planes)
    planes = _planes_py(n_planes, len(qv))

    def dot_sql(plane: list[float]) -> str:
        lits = "[" + ", ".join(f"{v!r}" for v in plane) + "]"
        return (
            f"list_sum(list_transform(list_zip(embedding, {lits}), "
            f"p -> cast(p[1] AS double) * p[2]))"
        )

    bucket = " + ".join(
        f"(CASE WHEN {dot_sql(pl)} >= 0 THEN {2 ** p} ELSE 0 END)"
        for p, pl in enumerate(planes)
    )
    return f"""
    WITH b AS (
      SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket
      FROM embeddings)
    SELECT vec_id,
           round(
             list_sum(list_transform(list_zip(embedding, {_qvec_sql()}),
                      p -> cast(p[1] AS double) * cast(p[2] AS double)))
             / (sqrt(list_sum(list_transform(embedding,
                      x -> cast(x AS double) * cast(x AS double))))
                * sqrt(list_sum(list_transform({_qvec_sql()},
                      x -> cast(x AS double) * cast(x AS double))))), 4)
           AS cosine,
           bucket
    FROM b WHERE bucket = {qsig}
    ORDER BY cosine DESC, vec_id ASC LIMIT {k}
    """


ORACLES["ann_lsh_topk"] = _lsh_oracle_sql()


def _simhash_oracle_sql(prefix_bits: int = 8) -> str:
    hashes = (
        "list_transform(list_distinct(regexp_extract_all(lower(text), "
        "'[a-z0-9]+')), t -> cast(('0x' || substring(md5(t), 1, 8)) AS bigint))"
    )
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(h, "
        f"x -> CASE WHEN (x & {1 << bit}) = {1 << bit} THEN 1 ELSE -1 END)) > 0 "
        f"THEN CAST({1 << bit} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for bit in range(32)
    )
    return f"""
    SELECT doc_id, simhash,
           CAST(simhash // {2 ** (32 - prefix_bits)} AS BIGINT) AS bucket
    FROM (
      SELECT doc_id, {bit_terms} AS simhash
      FROM (SELECT doc_id, {hashes} AS h FROM documents) t1) t2
    """


ORACLES["dedup_simhash_buckets"] = _simhash_oracle_sql()


# ---------- H. NN-parse harness (N1-N3, rows-only: not SQL-expressible) ---


def _nn_parse_rows_only(spark, sf):
    """Char-tagger inference harness over er_search bodies: broadcast
    weights + chunked mapInPandas (ref tools/model_predict.py:180-230).
    The tiny fixed-seed model stands in for unshipped trained weights;
    the harness (broadcast, batching, schema) is the unit under test —
    parity + batching-invariance live in tests/test_nnparse.py; output
    hash-pinned in tests/test_rows_only_golden.py."""
    from address_matcher_spark.operators import nnparse as N

    register_views(spark, sf)
    s = spark.table("er_search").select(
        "record_id", F.col("body").alias("full_address")
    )
    model = N.init_tiny_model(seed=13)
    return N.predict_fields(s, model)


_register("nn_field_parse", _nn_parse_rows_only, None)


# ---------- I. J14 fuzzy-vs-score-based diagnostic comparison -------------

from address_matcher_spark.operators import diagnose  # noqa: E402


def _method_comparison_q(spark, sf):
    """J14 (tools/recordlinkage_funcs.py:280-350): full-outer compare of
    two synthesized per-record match sets — fuzzy found variant<=1,
    score-based found variant in (1,2), neither saw variant 3 records
    with odd ids."""
    register_views(spark, sf)
    s = spark.table("er_search")
    fuzzy = s.filter((F.col("variant") <= 2) | (F.col("record_id") % 2 == 0)).select(
        "record_id",
        (F.col("variant") <= 1).alias("full_match"),
        (F.lit(80.0) + F.col("variant")).alias("fuzzy_score"),
    )
    scored = s.filter(F.col("variant") >= 1).select(
        "record_id",
        F.col("variant").isin(1, 2).alias("full_match"),
        (F.lit(90.0) + F.col("variant")).alias("fuzzy_score"),
    )
    return diagnose.compare_match_methods(fuzzy, scored)


_register(
    "er_method_comparison",
    _method_comparison_q,
    _with_er("""
    SELECT coalesce(f.record_id, s.record_id) AS record_id,
           coalesce(f.m, false) AS fuzzy_full_match,
           f.sc AS fuzzy_method_score,
           coalesce(s.m, false) AS score_full_match,
           s.sc AS score_method_score,
           (coalesce(f.m, false) OR coalesce(s.m, false)) AS full_match_either,
           CASE WHEN coalesce(f.m, false) AND coalesce(s.m, false) THEN 'both'
                WHEN coalesce(f.m, false) THEN 'fuzzy_only'
                WHEN coalesce(s.m, false) THEN 'score_only'
                ELSE 'neither' END AS method_agreement
    FROM (SELECT record_id, (variant <= 1) AS m,
                 cast(80.0 + variant AS double) AS sc
          FROM er_search WHERE variant <= 2 OR record_id % 2 = 0) f
    FULL OUTER JOIN
         (SELECT record_id, variant IN (1, 2) AS m,
                 cast(90.0 + variant AS double) AS sc
          FROM er_search WHERE variant >= 1) s
    ON f.record_id = s.record_id
    """),
)


# ---------- J. LSH-bucketed corpus×corpus k-NN join ------------------------


def _bucket_sql(n_planes: int = 6, dim: int = 64, band: int = 0,
                rel: str = "") -> str:
    planes = _planes_py(n_planes, dim, band)
    col = f"{rel}embedding" if rel else "embedding"

    def dot_sql(plane):
        lits = "[" + ", ".join(f"{v!r}" for v in plane) + "]"
        return (
            f"list_sum(list_transform(list_zip({col}, {lits}), "
            f"p -> cast(p[1] AS double) * p[2]))"
        )

    return "CAST(" + " + ".join(
        f"(CASE WHEN {dot_sql(pl)} >= 0 THEN {2 ** p} ELSE 0 END)"
        for p, pl in enumerate(planes)
    ) + " AS BIGINT)"


_register(
    "ann_knn_join_lsh",
    lambda spark, sf: _q(spark, sf, lambda s: (
        similarity.knn_join_lsh(
            s.table("embeddings").filter(F.col("vec_id") < 40),
            s.table("embeddings"), k=3, n_bands=2,
        )
    )),
    f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {_bucket_sql(band=0)} AS bucket0,
             {_bucket_sql(band=1)} AS bucket1
      FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             CASE WHEN q.bucket0 = c.bucket0 THEN q.bucket0
                  ELSE q.bucket1 END AS bucket,
             round(
               list_sum(list_transform(list_zip(q.embedding, c.embedding),
                        p -> cast(p[1] AS double) * cast(p[2] AS double)))
               / (sqrt(list_sum(list_transform(q.embedding,
                        x -> cast(x AS double) * cast(x AS double))))
                  * sqrt(list_sum(list_transform(c.embedding,
                        x -> cast(x AS double) * cast(x AS double))))), 4)
             AS cosine
      FROM b q JOIN b c
        ON (q.bucket0 = c.bucket0 OR q.bucket1 = c.bucket1)
       AND q.vec_id <> c.vec_id
      WHERE q.vec_id < 40)
    SELECT qid, cid, bucket, cosine, rank FROM (
      SELECT qid, cid, bucket, cosine,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cosine DESC, cid ASC) AS rank
      FROM pairs) t
    WHERE rank <= 3
    """,
)


# ---------- J2. IVF ANN (data-dependent cells) ----------------------------

_IVF_CELLS = 16


def _cos_sql(a: str, b: str, nd: int) -> str:
    """round(cosine(a, b), nd) with the norm guarded by greatest(·,1e-300)
    — mirrors similarity._cell_scores' zero-vector guard."""
    return (
        f"round(list_sum(list_transform(list_zip({a}, {b}),"
        f" p -> cast(p[1] AS double) * cast(p[2] AS double)))"
        f" / (greatest(sqrt(list_sum(list_transform({a},"
        f" x -> cast(x AS double) * cast(x AS double)))), 1e-300)"
        f" * greatest(sqrt(list_sum(list_transform({b},"
        f" x -> cast(x AS double) * cast(x AS double)))), 1e-300)), {nd})"
    )


# Centroids = the n_cells vectors with the smallest md5-u01(vec_id)
# (ties by id), 0-based index in that order — byte-identical to
# similarity._ivf_centroids' TakeOrdered.
_IVF_CENT_SQL = f"""
    cent AS (
      SELECT v, row_number() OVER (ORDER BY u, id) - 1 AS cidx
      FROM (SELECT embedding AS v, {_u01_sql("cast(vec_id AS varchar)")} AS u,
                   vec_id AS id
            FROM embeddings ORDER BY u, id LIMIT {_IVF_CELLS}) s),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cidx AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cos_sql("e.embedding", "c.v", 6)} DESC,
                          c.cidx ASC) AS rn
        FROM embeddings e CROSS JOIN cent c) t
      WHERE rn = 1)"""

_register(
    "ann_ivf_topk",
    lambda spark, sf: _q(spark, sf, lambda s: (
        similarity.ivf_topk(s.table("embeddings"), _query_vec(), k=10,
                            n_cells=_IVF_CELLS, nprobe=4)
    )),
    f"""
    WITH {_IVF_CENT_SQL},
    probe AS (
      SELECT cell FROM (
        SELECT c.cidx AS cell,
               row_number() OVER (
                 ORDER BY {_cos_sql(_qvec_sql(), "c.v", 6)} DESC,
                          c.cidx ASC) AS rn
        FROM cent c) t
      WHERE rn <= 4)
    SELECT e.vec_id, {_cos_sql("e.embedding", _qvec_sql(), 4)} AS cosine,
           cast(a.cell AS int) AS cell
    FROM embeddings e JOIN assign a USING (vec_id)
    WHERE a.cell IN (SELECT cell FROM probe)
    ORDER BY cosine DESC, e.vec_id ASC LIMIT 10
    """,
)

_register(
    "ann_ivf_knn_join",
    lambda spark, sf: _q(spark, sf, lambda s: (
        similarity.ivf_knn_join(
            s.table("embeddings").filter(F.col("vec_id") < 40),
            s.table("embeddings"), k=3, n_cells=_IVF_CELLS, nprobe=2,
        )
    )),
    f"""
    WITH {_IVF_CENT_SQL},
    probes AS (
      SELECT qid, cell FROM (
        SELECT e.vec_id AS qid, c.cidx AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cos_sql("e.embedding", "c.v", 6)} DESC,
                          c.cidx ASC) AS rn
        FROM embeddings e CROSS JOIN cent c
        WHERE e.vec_id < 40) t
      WHERE rn <= 2),
    pairs AS (
      SELECT p.qid, a.vec_id AS cid, cast(p.cell AS int) AS cell,
             {_cos_sql("q.embedding", "c.embedding", 4)} AS cosine
      FROM probes p
      JOIN assign a ON a.cell = p.cell
      JOIN embeddings q ON q.vec_id = p.qid
      JOIN embeddings c ON c.vec_id = a.vec_id
      WHERE p.qid <> a.vec_id)
    SELECT qid, cid, cell, cosine, rank FROM (
      SELECT qid, cid, cell, cosine,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cosine DESC, cid ASC) AS rank
      FROM pairs) t
    WHERE rank <= 3
    """,
)


# ---------- K. embedding-cosine near-dup (semantic dedup family) ----------

_register(
    "dedup_embedding_cosine",
    lambda spark, sf: _q(spark, sf, lambda s: (
        dedup.embedding_near_dup_pairs(s.table("embeddings"), threshold=0.35,
                                       n_bands=2)
    )),
    f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {_bucket_sql(band=0)} AS bucket0,
             {_bucket_sql(band=1)} AS bucket1
      FROM embeddings)
    SELECT a.vec_id AS a, c.vec_id AS b,
           round(
             list_sum(list_transform(list_zip(a.embedding, c.embedding),
                      p -> cast(p[1] AS double) * cast(p[2] AS double)))
             / (sqrt(list_sum(list_transform(a.embedding,
                      x -> cast(x AS double) * cast(x AS double))))
                * sqrt(list_sum(list_transform(c.embedding,
                      x -> cast(x AS double) * cast(x AS double))))), 4)
           AS cosine
    FROM b a JOIN b c
      ON (a.bucket0 = c.bucket0 OR a.bucket1 = c.bucket1)
     AND a.vec_id < c.vec_id
    WHERE round(
             list_sum(list_transform(list_zip(a.embedding, c.embedding),
                      p -> cast(p[1] AS double) * cast(p[2] AS double)))
             / (sqrt(list_sum(list_transform(a.embedding,
                      x -> cast(x AS double) * cast(x AS double))))
                * sqrt(list_sum(list_transform(c.embedding,
                      x -> cast(x AS double) * cast(x AS double))))), 4) >= 0.35
    """,
)


# ---------- L. Gopher quality filter + end-to-end dedup clusters ----------

_GOPHER_STOP = stopword_count_oracle("text", "en")

_register(
    "gopher_quality_filter",
    lambda spark, sf: _q(spark, sf, lambda s: (
        textstats.gopher_quality_filter(s.table("documents"))
    )),
    rf"""
    SELECT doc_id,
           (reason IS NULL) AS keep,
           reason AS drop_reason
    FROM (
      SELECT doc_id,
        CASE
          WHEN n_words < 5 THEN 'too_few_words'
          WHEN n_words > 100000 THEN 'too_many_words'
          WHEN letter_chars / greatest(n_letters, 1) < 3.0
            THEN 'mean_word_len_low'
          WHEN letter_chars / greatest(n_letters, 1) > 10.0
            THEN 'mean_word_len_high'
          WHEN (n_hash + n_ellipsis) / greatest(n_words, 1) > 0.1
            THEN 'symbol_ratio_high'
          WHEN alpha_words / greatest(n_words, 1) < 0.8
            THEN 'alpha_word_ratio_low'
          WHEN n_stop < 2 THEN 'too_few_stopwords'
        END AS reason
      FROM (
        SELECT doc_id,
          len(regexp_extract_all(lower(text), '\S+')) AS n_words,
          coalesce(list_sum(list_transform(
            regexp_extract_all(lower(text), '[a-z]+'), w -> length(w))), 0)
            AS letter_chars,
          len(regexp_extract_all(lower(text), '[a-z]+')) AS n_letters,
          length(regexp_replace(text, '[^#]', '', 'g')) AS n_hash,
          len(regexp_extract_all(text, '\.\.\.')) AS n_ellipsis,
          len(list_filter(regexp_extract_all(lower(text), '\S+'),
                          w -> regexp_matches(w, '[a-z]'))) AS alpha_words,
          {_GOPHER_STOP} AS n_stop
        FROM documents) m) t
    """,
)


def _dedup_clusters_q(spark, sf):
    """End-to-end near-dup clustering: MinHash-LSH candidate pairs →
    connected components → one cluster id per document in any pair."""
    register_views(spark, sf)
    from address_matcher_spark.operators.cluster import connected_components

    # star edges, not the pairwise band join: identical components at
    # O(bucket) instead of O(bucket²) edges (round 8; the oracle is the
    # unchanged recursive closure over the pairwise join, so the driver
    # compare proves the contraction exact)
    return connected_components(
        dedup.minhash_lsh_star_edges(spark.table("documents"))
    )


_register(
    "dedup_minhash_clusters",
    _dedup_clusters_q,
    f"""
    WITH RECURSIVE sig AS (
      SELECT doc_id, {', '.join(minhash_oracle_exprs())} FROM documents),
    bands AS (
      SELECT doc_id, 0 AS band,
             concat(cast(mh0 AS string), ':', cast(mh1 AS string), ':', cast(mh2 AS string)) AS band_sig FROM sig
      UNION ALL
      SELECT doc_id, 1,
             concat(cast(mh3 AS string), ':', cast(mh4 AS string), ':', cast(mh5 AS string)) FROM sig
      UNION ALL
      SELECT doc_id, 2,
             concat(cast(mh6 AS string), ':', cast(mh7 AS string), ':', cast(mh8 AS string)) FROM sig
      UNION ALL
      SELECT doc_id, 3,
             concat(cast(mh9 AS string), ':', cast(mh10 AS string), ':', cast(mh11 AS string)) FROM sig),
    edges AS (
      SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
    sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    reach(node, lbl) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.node)
    SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node
    """,
)


def _dedup_incremental_q(spark, sf):
    """Incremental corpus-refresh dedup (VERDICT r5 'Next round' #6):
    documents are split deterministically into an OLD corpus (3/4) and a
    NEW refresh batch (1/4); the old state (signature table + cluster
    labels) is built once, then the new batch is labeled through
    dedup.incremental_dedup_labels — exact-dup anti-join on content_hash,
    LSH join new-vs-old + new-vs-new, connected components over the new
    edges plus the old label contraction.  The output must equal the
    ONE-SHOT clustering of all documents, so the oracle is verbatim
    dedup_minhash_clusters' recursive-CTE closure."""
    register_views(spark, sf)
    from address_matcher_spark.operators.cluster import connected_components

    docs = spark.table("documents")
    old = docs.filter(F.col("doc_id") % 4 != 0)
    new = docs.filter(F.col("doc_id") % 4 == 0)
    # In the real refresh shape old_sigs/old_labels are DURABLE tables a
    # prior run wrote; materialise the stand-ins so the query measures the
    # refresh itself, not a re-derivation of persisted state per consumer
    # (both frames have multiple consumers inside incremental_dedup_labels,
    # and Catalyst re-evaluates shared subtrees)
    old_sigs = dedup.minhash_signature_table(old).localCheckpoint()
    # the old-state labels come from the star-edge contraction (identical
    # components, O(bucket) edges — see dedup._bucket_star_edges) over
    # the ALREADY-MATERIALISED signature table, not from the raw text
    # (the prior pairwise band join emitted ~3.7M edges for the sf0.1
    # old corpus and dominated this query's wall; rebuilding signatures
    # from text would re-pay the tokenise+minhash projection the
    # checkpoint above just persisted)
    old_labels = connected_components(
        dedup.star_edges_from_signatures(old_sigs)
    ).localCheckpoint()
    return dedup.incremental_dedup_labels(new, old_sigs, old_labels)


_register(
    "dedup_incremental",
    _dedup_incremental_q,
    ORACLES["dedup_minhash_clusters"],
)


# ---------- M. composed training-corpus cleaning pipeline -----------------


def _corpus_keep_q(spark, sf):
    """The full cleaning pipeline a pre-training corpus runs: Gopher
    quality filter ∧ drop exact-dup non-keepers ∧ drop near-dup cluster
    non-keepers (keeper = min doc id).  Three anti-joins over operators
    that each shuffle at most once."""
    register_views(spark, sf)
    from address_matcher_spark.operators.cluster import connected_components

    docs = spark.table("documents")
    quality = textstats.gopher_quality_filter(docs)
    hashes = docs.select("doc_id", F.md5(F.col("text")).alias("content_hash"))
    exact_nonkeepers = (
        hashes.join(dedup.exact_duplicates(docs), "content_hash")
        .filter(F.col("doc_id") != F.col("keeper_id"))
        .select("doc_id")
    )
    labels = connected_components(dedup.minhash_lsh_star_edges(docs))
    near_nonkeepers = (
        labels.filter(F.col("node") != F.col("cluster_id"))
        .select(F.col("node").alias("doc_id"))
    )
    return (
        quality.filter(F.col("keep"))
        .select("doc_id")
        .join(exact_nonkeepers, "doc_id", "left_anti")
        .join(near_nonkeepers, "doc_id", "left_anti")
    )


_register(
    "corpus_clean_keep_list",
    _corpus_keep_q,
    f"""
    SELECT g.doc_id FROM ({ORACLES['gopher_quality_filter']}) g
    WHERE g.keep
      AND g.doc_id NOT IN (
        SELECT d.doc_id FROM documents d
        JOIN (SELECT md5(text) AS h, min(doc_id) AS keeper
              FROM documents GROUP BY md5(text) HAVING count(*) > 1) e
          ON md5(d.text) = e.h
        WHERE d.doc_id <> e.keeper)
      AND g.doc_id NOT IN (
        SELECT node FROM ({ORACLES['dedup_minhash_clusters']}) c
        WHERE c.node <> c.cluster_id)
    """,
)


# ---------- N. corpus repetition / contamination / mixing -----------------
#
# The synthetic documents have no newlines and little long-range
# repetition, so (as with pii_scrub / url_canonicalize) each query
# augments its input DETERMINISTICALLY inside the query and mirrors the
# augmentation verbatim in the oracle SQL.


def _rep_aug_col():
    """Newlines + duplicate lines + a repeated phrase, all from substrings
    of the doc's own text so every repetition signal has variance."""
    t = F.col("text")
    return F.concat_ws(
        "\n",
        F.substring(t, 1, 60),
        F.substring(t, 61, 60),
        F.substring(t, 1, 60),
        F.when(F.col("doc_id") % 3 == 0, F.substring(t, 1, 60))
        .otherwise(F.substring(t, 121, 60)),
        F.when(F.col("doc_id") % 5 == 0, F.repeat(F.substring(t, 1, 21), 4))
        .otherwise(F.substring(t, 181, 60)),
    )


_REP_AUG_SQL = (
    "SELECT doc_id, concat_ws(chr(10),"
    " substr(text, 1, 60), substr(text, 61, 60), substr(text, 1, 60),"
    " CASE WHEN doc_id % 3 = 0 THEN substr(text, 1, 60)"
    "      ELSE substr(text, 121, 60) END,"
    " CASE WHEN doc_id % 5 = 0 THEN repeat(substr(text, 1, 21), 4)"
    "      ELSE substr(text, 181, 60) END) AS text"
    " FROM documents"
)

_WORDS_SQL = r"list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"


def _grams_sql(n: int) -> str:
    """DuckDB expression mirroring textstats._ngrams_col over a word list
    column named w."""
    joined = " || ' ' || ".join(f"w[i+{j}]" if j else "w[i]" for j in range(n))
    return (
        f"CASE WHEN len(w) >= {n}"
        f" THEN list_transform(range(1, len(w) - {n - 2}), i -> {joined})"
        f" ELSE [] END"
    )


_CHARS_SQL = "coalesce(list_aggregate(list_transform({0}, x -> length(x)), 'sum'), 0)"


def _top_frac_cte(n: int) -> str:
    """Per-doc (cnt·chars of the most frequent n-gram)/doc-chars, ties to
    the lexicographically smallest gram — same convention as
    textstats._top_run's strict-> walk over the sorted array."""
    return f"""
    g{n} AS (SELECT doc_id, n_chars, unnest({_grams_sql(n)}) AS gram FROM base),
    c{n} AS (SELECT doc_id, n_chars, gram, count(*) AS cnt
             FROM g{n} GROUP BY doc_id, n_chars, gram),
    t{n} AS (SELECT doc_id,
                    cnt * length(gram) / cast(n_chars AS double) AS frac,
                    row_number() OVER (PARTITION BY doc_id
                                       ORDER BY cnt DESC, gram ASC) AS rn
             FROM c{n} WHERE cnt >= 2)"""


_REPETITION_SQL = f"""
    WITH aug AS ({_REP_AUG_SQL}),
    base AS (
      SELECT doc_id,
             greatest(length(text), 1) AS n_chars,
             list_filter(list_transform(string_split(text, chr(10)),
                                        x -> trim(x)),
                         x -> length(x) > 0) AS lines,
             {_WORDS_SQL} AS w
      FROM aug),
    {_top_frac_cte(2).lstrip()},
    {_top_frac_cte(3).lstrip()},
    {_top_frac_cte(4).lstrip()},
    lf AS (
      SELECT doc_id,
             CASE WHEN len(lines) > 0
                  THEN (len(lines) - len(list_distinct(lines)))
                       / cast(len(lines) AS double)
                  ELSE 0.0 END AS dup_line_frac,
             ({_CHARS_SQL.format('lines')}
              - {_CHARS_SQL.format('list_distinct(lines)')})
             / cast(n_chars AS double) AS dup_line_char_frac,
             ({_CHARS_SQL.format(_grams_sql(5))}
              - {_CHARS_SQL.format('list_distinct(' + _grams_sql(5) + ')')})
             / cast(n_chars AS double) AS dup5_char_frac,
             ({_CHARS_SQL.format(_grams_sql(10))}
              - {_CHARS_SQL.format('list_distinct(' + _grams_sql(10) + ')')})
             / cast(n_chars AS double) AS dup10_char_frac
      FROM base),
    j AS (
      SELECT lf.doc_id, lf.dup_line_frac, lf.dup_line_char_frac,
             coalesce(t2.frac, 0.0) AS top2_char_frac,
             coalesce(t3.frac, 0.0) AS top3_char_frac,
             coalesce(t4.frac, 0.0) AS top4_char_frac,
             lf.dup5_char_frac, lf.dup10_char_frac
      FROM lf
      LEFT JOIN t2 ON t2.doc_id = lf.doc_id AND t2.rn = 1
      LEFT JOIN t3 ON t3.doc_id = lf.doc_id AND t3.rn = 1
      LEFT JOIN t4 ON t4.doc_id = lf.doc_id AND t4.rn = 1)
    SELECT *,
           (CASE
              WHEN dup_line_frac > 0.30 THEN 'dup_line_frac'
              WHEN dup_line_char_frac > 0.20 THEN 'dup_line_char_frac'
              WHEN top2_char_frac > 0.20 THEN 'top2_char_frac'
              WHEN top3_char_frac > 0.18 THEN 'top3_char_frac'
              WHEN top4_char_frac > 0.16 THEN 'top4_char_frac'
              WHEN dup5_char_frac > 0.15 THEN 'dup5_char_frac'
              WHEN dup10_char_frac > 0.10 THEN 'dup10_char_frac'
            END) IS NULL AS keep,
           CASE
              WHEN dup_line_frac > 0.30 THEN 'dup_line_frac'
              WHEN dup_line_char_frac > 0.20 THEN 'dup_line_char_frac'
              WHEN top2_char_frac > 0.20 THEN 'top2_char_frac'
              WHEN top3_char_frac > 0.18 THEN 'top3_char_frac'
              WHEN top4_char_frac > 0.16 THEN 'top4_char_frac'
              WHEN dup5_char_frac > 0.15 THEN 'dup5_char_frac'
              WHEN dup10_char_frac > 0.10 THEN 'dup10_char_frac'
           END AS drop_reason
    FROM j
    """

_register(
    "gopher_repetition_filter",
    lambda spark, sf: _q(spark, sf, lambda s: (
        textstats.repetition_filter(
            s.table("documents").select("doc_id", _rep_aug_col().alias("text"))
        )
    )),
    _REPETITION_SQL,
)


_CONTAM_N = 5
_CONTAM_EVAL_SQL = (
    "SELECT substr(text, 1, 120) AS text FROM documents WHERE doc_id % 97 = 0"
)

_CONTAMINATION_SQL = f"""
    WITH ev AS ({_CONTAM_EVAL_SQL}),
    evw AS (SELECT {_WORDS_SQL} AS w FROM ev),
    evg AS (SELECT DISTINCT gram FROM
            (SELECT unnest({_grams_sql(_CONTAM_N)}) AS gram FROM evw)),
    dw AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    dg AS (SELECT doc_id,
                  unnest(list_distinct({_grams_sql(_CONTAM_N)})) AS gram
           FROM dw),
    agg AS (SELECT dg.doc_id, count(*) AS n_grams,
                   count(evg.gram) AS n_overlap
            FROM dg LEFT JOIN evg USING (gram)
            GROUP BY dg.doc_id)
    SELECT d.doc_id,
           coalesce(agg.n_grams, 0) AS n_grams,
           coalesce(agg.n_overlap, 0) AS n_overlap,
           coalesce(agg.n_overlap, 0)
             / cast(greatest(coalesce(agg.n_grams, 0), 1) AS double)
             AS overlap_frac,
           coalesce(agg.n_overlap, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
    """


def _contamination_q(spark, sf):
    register_views(spark, sf)
    docs = spark.table("documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.substring("text", 1, 120).alias("text")
    )
    return textstats.contamination_check(docs, ev, n=_CONTAM_N)


_register("contamination_ngram_overlap", _contamination_q,
          _CONTAMINATION_SQL)


_MIX_WEIGHTS = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25,
                "src5": 0.1}


_MIX_SQL = (
    "SELECT doc_id, source FROM documents WHERE "
    + _u01_sql("cast(doc_id AS varchar) || ':' || source")
    + " < CASE source "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(_MIX_WEIGHTS.items()))
    + " ELSE 0.0 END"
)

_register(
    "domain_mix_sample",
    lambda spark, sf: _q(spark, sf, lambda s: (
        textstats.domain_mix_sample(s.table("documents"), _MIX_WEIGHTS)
        .select("doc_id", "source")
    )),
    _MIX_SQL,
)


# ---------- exact-substring duplicate spans + sequence packing ------------

from address_matcher_spark.operators import packing  # noqa: E402

_DUP_SPAN_W = 8

_register(
    "dedup_duplicate_spans",
    lambda spark, sf: _q(spark, sf, lambda s: (
        dedup.duplicate_spans(s.table("documents"), window=_DUP_SPAN_W)
    )),
    f"""
    WITH w AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - {_DUP_SPAN_W - 1}, 0)),
               i -> md5(array_to_string(
                 list_slice(regexp_extract_all(lower(text), '[a-z0-9]+'), i, i + {_DUP_SPAN_W - 1}), ' '))
             )) AS wh
      FROM documents),
    per_doc AS (SELECT doc_id, wh, count(*) AS n FROM w GROUP BY doc_id, wh),
    dup AS (SELECT wh FROM per_doc GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
    tot AS (SELECT doc_id, count(*) AS n_windows FROM w GROUP BY doc_id),
    dpd AS (SELECT doc_id, sum(n) AS n_dup FROM per_doc JOIN dup USING (wh) GROUP BY doc_id)
    SELECT d.doc_id,
           cast(coalesce(tot.n_windows, 0) AS bigint) AS n_windows,
           cast(coalesce(dpd.n_dup, 0) AS bigint) AS n_dup_windows,
           CASE WHEN coalesce(tot.n_windows, 0) > 0
                THEN round(coalesce(dpd.n_dup, 0) / tot.n_windows, 6)
                ELSE 0.0 END AS dup_frac
    FROM documents d
    LEFT JOIN tot ON tot.doc_id = d.doc_id
    LEFT JOIN dpd ON dpd.doc_id = d.doc_id
    """,
)

# Span BOUNDS (the cutting half of ExactSubstr): same window hashes, but
# the output is per-(doc, merged span) token offsets.  unnest over two
# parallel lists zips them, giving (off, wh) pairs; islands via the
# standard lag + running-sum window.
_register(
    "dedup_duplicate_span_bounds",
    lambda spark, sf: _q(spark, sf, lambda s: (
        dedup.duplicate_span_bounds(s.table("documents"),
                                    window=_DUP_SPAN_W)
    )),
    f"""
    WITH tk AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents),
    w AS (
      SELECT doc_id,
             unnest(generate_series(1, greatest(len(t) - {_DUP_SPAN_W - 1}, 0))) - 1 AS off,
             unnest(list_transform(
               generate_series(1, greatest(len(t) - {_DUP_SPAN_W - 1}, 0)),
               i -> md5(array_to_string(
                 list_slice(t, i, i + {_DUP_SPAN_W - 1}), ' ')))) AS wh
      FROM tk),
    dup AS (SELECT wh FROM w GROUP BY wh
            HAVING count(DISTINCT doc_id) >= 2),
    do_ AS (SELECT w.doc_id, w.off FROM w JOIN dup USING (wh)),
    brk AS (
      SELECT doc_id, off,
             CASE WHEN off > lag(off) OVER (PARTITION BY doc_id ORDER BY off)
                           + {_DUP_SPAN_W} THEN 1 ELSE 0 END AS b
      FROM do_),
    isl AS (
      SELECT doc_id, off,
             sum(b) OVER (PARTITION BY doc_id ORDER BY off
                          ROWS UNBOUNDED PRECEDING) AS g
      FROM brk)
    SELECT doc_id,
           cast(min(off) AS bigint) AS span_start,
           cast(max(off) + {_DUP_SPAN_W} AS bigint) AS span_end,
           cast(count(*) AS bigint) AS n_span_windows
    FROM isl GROUP BY doc_id, g
    """,
)

_PACK_CHUNK = 256
_PACK_STREAMS = 8

_register(
    "sequence_pack_chunks",
    lambda spark, sf: _q(spark, sf, lambda s: (
        packing.pack_chunks(
            s.table("documents"),
            chunk_tokens=_PACK_CHUNK, n_streams=_PACK_STREAMS)
    )),
    f"""
    WITH base AS (
      SELECT doc_id,
             cast(floor({{u01}} * {_PACK_STREAMS}) AS int) AS stream,
             cast(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS bigint) AS n_tokens
      FROM documents),
    o AS (
      SELECT doc_id, stream, n_tokens,
             cast(coalesce(sum(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bigint) AS token_offset
      FROM base)
    SELECT doc_id, stream, n_tokens, token_offset,
           cast(floor(token_offset / {_PACK_CHUNK}) AS bigint) AS start_chunk,
           cast(floor((token_offset + greatest(n_tokens - 1, 0)) / {_PACK_CHUNK}) AS bigint) AS end_chunk
    FROM o
    """.replace("{u01}", _u01_sql("cast(doc_id AS varchar)")),
)


# ---------- O. multimodal resize + frame sampling (rows-only) -------------


def _mini_bmp(w: int, h: int, rgb: tuple) -> bytes:
    """Minimal 24bpp BI_RGB BMP, solid colour (driver-side payload
    builder for the rows-only multimodal queries — deterministic,
    independent of the operator's decoder)."""
    import struct as st

    stride = (w * 3 + 3) & ~3
    row = (bytes(rgb[::-1]) * w).ljust(stride, b"\0")
    px = row * h
    return (b"BM" + st.pack("<IHHI", 54 + len(px), 0, 0, 54)
            + st.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px),
                      2835, 2835, 0, 0) + px)


def _mini_avi_dib(w: int, h: int, vals: list[int]) -> bytes:
    """Minimal AVI with one raw-DIB (BI_RGB 24bpp) '00db' frame per
    value: LIST hdrl (avih + vids strl with BITMAPINFOHEADER) + movi."""
    import struct as st

    stride = (w * 3 + 3) & ~3
    avih = st.pack("<IIIIIIIIIIIIII",
                   33367, 0, 0, 0x10, len(vals), 0, 1, 0, w, h, 0, 0, 0, 0)
    hdrl = b"hdrl" + b"avih" + st.pack("<I", len(avih)) + avih
    strh = b"vids" + b"DIB " + b"\x00" * 48
    bih = st.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, 0, 0, 0, 0, 0)
    strl = (b"strl" + b"strh" + st.pack("<I", len(strh)) + strh
            + b"strf" + st.pack("<I", len(bih)) + bih)
    hdrl += b"LIST" + st.pack("<I", len(strl)) + strl
    chunks = b""
    for v in vals:
        frame = (bytes((v % 256, (v * 2) % 256, (v * 3) % 256))
                 * w).ljust(stride, b"\0") * h
        chunks += b"00db" + st.pack("<I", len(frame)) + frame
        if len(frame) & 1:
            chunks += b"\x00"
    movi = b"movi" + chunks
    body = (b"AVI " + b"LIST" + st.pack("<I", len(hdrl)) + hdrl
            + b"LIST" + st.pack("<I", len(movi)) + movi)
    return b"RIFF" + st.pack("<I", len(body)) + body


def _media_payload_df(spark):
    """60 deterministic payloads: BMPs, raw-DIB AVIs, and garbage —
    every decode/skip branch of the thumbnail + frame-sample plumbing."""
    rows = []
    for i in range(60):
        if i % 3 == 0:
            p = _mini_bmp(6 + i % 4, 4 + i % 3,
                          (i % 256, (7 * i) % 256, (13 * i) % 256))
        elif i % 3 == 1:
            p = _mini_avi_dib(4 + i % 3, 4, [i, i + 1, i + 2, i + 3])
        else:
            p = b"not-media-" + str(i).encode()
        rows.append((i, bytearray(p)))
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def _thumbnail_rows_only(spark, sf):
    """Rows-only (payload decode is not SQL-expressible); scalar
    projections of the thumbnail keep the frozen hash format-stable."""
    from address_matcher_spark.operators import multimodal as M

    t = M.extract_thumbnails(_media_payload_df(spark), "payload",
                             "doc_id", 3, 3)
    mean = F.aggregate("thumbnail", F.lit(0.0),
                       lambda a, x: a + x.cast("double")) / F.size("thumbnail")
    return t.select(
        "id", "media_type", "width", "height", "decoded",
        F.size("thumbnail").alias("n_cells"),
        F.when(F.size("thumbnail") > 0, F.round(mean, 6))
        .otherwise(F.lit(0.0)).alias("thumb_mean"),
    )


def _frame_sample_rows_only(spark, sf):
    from address_matcher_spark.operators import multimodal as M

    fr = M.sample_frames(_media_payload_df(spark), "payload", "doc_id",
                         every=2, max_frames=2)
    mean = F.aggregate("feature", F.lit(0.0),
                       lambda a, x: a + x.cast("double")) / F.size("feature")
    return fr.select(
        "id", "frame_idx", "media_type", "width", "height", "decoded",
        F.round(mean, 6).alias("feat_mean"),
    )


_register("multimodal_thumbnails", _thumbnail_rows_only, None)
_register("multimodal_frame_sample", _frame_sample_rows_only, None)
