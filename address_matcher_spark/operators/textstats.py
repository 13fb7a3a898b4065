"""Text analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting — all native
expressions (codegen'd, UDF-free, oracle-portable)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from address_matcher_spark.operators._util import ensure_parallel

# BPE-ish pre-tokeniser: letter runs | digit runs | single punctuation
BPE_TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

# word lists kept simple so the SQL oracle can mirror them verbatim
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "for", "on", "with", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "des", "dans", "pour"],
}


def _word_re(words: list[str]) -> str:
    return r"\b(?:" + "|".join(words) + r")\b"


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.regexp_extract_all(text, F.lit(r"\S+"), 0))


def bpe_token_count(text: Column) -> Column:
    """BPE-ish sub-token count (letters/digits/punct split)."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(BPE_TOKEN_RE), 0))


def stopword_count(text: Column, lang: str = "en") -> Column:
    return F.size(
        F.regexp_extract_all(F.lower(text), F.lit(_word_re(STOPWORDS[lang])), 0)
    )


def punct_ratio(text: Column) -> Column:
    n_punct = F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", ""))
    return F.round(n_punct / F.greatest(F.length(text), F.lit(1)), 6)


def mean_word_len(text: Column) -> Column:
    words = F.regexp_extract_all(F.lower(text), F.lit(r"[a-z]+"), 0)
    total = F.aggregate(
        F.transform(words, F.length), F.lit(0), lambda a, x: a + x
    )
    return F.round(total / F.greatest(F.size(words), F.lit(1)), 6)


def quality_score(text: Column) -> Column:
    """Heuristic document-quality score in [0,1]: penalise extreme length,
    high punctuation, missing stopwords, degenerate word lengths."""
    n_tok = token_count(text)
    sw_ratio = stopword_count(text) / F.greatest(n_tok, F.lit(1))
    len_ok = F.when((n_tok >= 5) & (n_tok <= 5000), F.lit(1.0)).otherwise(0.5)
    mwl = mean_word_len(text)
    mwl_ok = F.when((mwl >= 3.0) & (mwl <= 10.0), F.lit(1.0)).otherwise(0.5)
    punct_ok = F.when(punct_ratio(text) <= 0.2, F.lit(1.0)).otherwise(0.5)
    sw_ok = F.when(sw_ratio >= 0.05, F.lit(1.0)).otherwise(0.6)
    return F.round(0.4 * len_ok + 0.2 * mwl_ok + 0.2 * punct_ok + 0.2 * sw_ok, 6)


def lang_id(text: Column) -> Column:
    """n-gram/stopword-count heuristic language ID over {en, de, fr};
    'und' (undetermined) when no stopwords hit."""
    counts = {lang: stopword_count(text, lang) for lang in STOPWORDS}
    best = F.greatest(*counts.values())
    out = F.lit("und")
    # fixed priority order for ties: en > de > fr
    for lang in ["fr", "de", "en"]:
        out = F.when((counts[lang] == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out


def _norm_text(text: Column) -> Column:
    """Lowercase alnum-collapsed normal form shared by the fingerprints."""
    return F.trim(F.regexp_replace(F.lower(text), r"[^a-z0-9]+", " "))


def fingerprint(text: Column) -> Column:
    """Normalised-content fingerprint: md5 of lowercase alnum-collapsed text."""
    return F.md5(_norm_text(text))


def rolling_min_fingerprint_from_norm(norm: Column, gram: int = 5) -> Column:
    """rolling_min_fingerprint over an ALREADY-NORMALISED column.  The
    norm must be a projected COLUMN, not an expression: the gram lambda
    references it once per character position, and an inlined
    regexp_replace chain re-evaluates per element — measured ~3× the
    whole document_stats projection (round 8; same staging rule as
    repetition_filter)."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(norm) - (gram - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: F.substring(norm, i, gram))
    hashes = F.transform(
        grams, lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("bigint")
    )
    return F.array_min(hashes)


def rolling_min_fingerprint(text: Column, gram: int = 5) -> Column:
    """Winnowing-style sketch: minimum md5-derived hash over all character
    5-grams of the normalised text (rolling-hash fingerprint; robust to
    small edits).  Single-reference consumers only — stage _norm_text
    into its own projection first when possible (see
    rolling_min_fingerprint_from_norm)."""
    return rolling_min_fingerprint_from_norm(_norm_text(text), gram)


def document_stats(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    # compute-heavy per row (one md5 per char 5-gram): spread the scan
    # over the cluster's slots, else the whole projection runs on a single
    # parquet split's task
    docs = ensure_parallel(docs)
    t = F.col(text_col)
    # STAGED: the normalised text is projected once and referenced 3×
    # in the second stage (md5 fingerprint, the per-position gram lambda,
    # the index bound) — inlined, the regexp_replace chain re-ran once
    # per CHARACTER inside the transform lambda (round 8, ~40% of the
    # query's wall; same Catalyst staging rule as repetition_filter)
    staged = docs.select(F.col(id_col), t.alias("__t"),
                         _norm_text(t).alias("__norm"))
    t = F.col("__t")
    norm = F.col("__norm")
    return staged.select(
        F.col(id_col),
        token_count(t).alias("n_tokens"),
        bpe_token_count(t).alias("n_bpe_tokens"),
        F.length(t).alias("n_chars"),
        punct_ratio(t).alias("punct_ratio"),
        mean_word_len(t).alias("mean_word_len"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_pred"),
        F.md5(norm).alias("fingerprint"),
        rolling_min_fingerprint_from_norm(norm).alias("min_gram_hash"),
    )


# Gopher-style quality-filter thresholds (Rae et al. 2021, §A1.1 — scaled
# word-count floor for the short synthetic docs; the published floor is 50)
GOPHER_MIN_WORDS = 5
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_RATIO = 0.8
GOPHER_MIN_STOPWORDS = 2


def url_canonicalize(df: DataFrame, url_col: str = "url",
                     id_col: str = "doc_id") -> DataFrame:
    """URL canonicalization + keeper election — step 1 of any web-corpus
    dedup (the input_hint table keys pages by url).  Lowercases scheme
    and host, strips a leading 'www.', drops the fragment and all
    utm_* tracking params, sorts the surviving query params, and
    normalises an empty path to '/'.  Keeper = min id per canonical URL
    (one window).  Ports/percent-encoding are left as-is (note in SURVEY).

    100 TB shape: a codegen'd projection plus ONE hash-partitioned
    window on canonical_url — the same shuffle a groupBy-dedup would
    pay, but keeps every row (keeper flag instead of a lossy distinct)."""
    from pyspark.sql import Window

    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1))
    host = F.regexp_replace(
        F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)),
        r"^www\.", "")
    path = F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    qs = F.regexp_extract(u, r"\?([^#]*)", 1)
    keep = F.array_sort(F.filter(
        F.split(qs, "&"),
        lambda p: (p != "") & ~p.startswith("utm_")))
    canonical = F.concat(
        scheme, F.lit("://"), host,
        F.when(path == "", F.lit("/")).otherwise(path),
        F.when(F.size(keep) > 0,
               F.concat(F.lit("?"), F.concat_ws("&", keep))).otherwise(F.lit("")))
    out = df.select(
        F.col(id_col).alias("doc_id"),
        canonical.alias("canonical_url"),
        host.alias("host"),
    )
    w = Window.partitionBy("canonical_url")
    return out.withColumn(
        "is_keeper", F.col("doc_id") == F.min("doc_id").over(w))


# PII patterns — dialect-neutral (no backrefs/lookaround) so the Java
# (Spark) and RE2 (DuckDB oracle) engines agree match-for-match; fixed
# widths where greedy leftmost-first vs leftmost-longest could differ
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b(\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE_RE = r"\b\d{3}-\d{4}\b"


def pii_scrub(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """PII redaction for web corpora: count + redact emails, IPv4
    addresses, and phone-shaped numbers.  Counts are taken on the raw
    text; redaction is sequential (email → ip → phone) so a pattern
    never matches inside an earlier placeholder.  Native regexp
    expressions only — at 100 TB this is one codegen'd projection over
    the scan, no shuffle, no UDF."""
    t = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
            PII_IPV4_RE, "<IP>"),
        PII_PHONE_RE, "<PHONE>")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PII_IPV4_RE), 0)).alias("n_ipv4"),
        F.size(F.regexp_extract_all(t, F.lit(PII_PHONE_RE), 0)).alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_hash"),
        F.length(scrubbed).alias("n_scrubbed_chars"),
    )


def line_boilerplate_stats(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", split_re: str = r"\n",
                           min_docs: int = 2) -> DataFrame:
    """Line-level boilerplate detection (the CCNet/RefinedWeb trick):
    split each document into trimmed non-empty lines, count the DISTINCT
    documents each line occurs in, and report per document how many of
    its distinct lines are boilerplate (shared by >= min_docs docs).

    100 TB shape: explode → distinct (doc, line-hash) pairs →
    hash-frequency aggregation → equi-join back on the hash — shuffle ∝
    total lines, never all-pairs, and every exchange past the explode
    carries an 8-byte xxhash64 key instead of the line text (the output
    is per-doc counts, so the string is never needed downstream).
    64-bit collisions (~n_lines²/2⁶⁵) would merge two distinct lines;
    the DuckDB oracle deliberately keys on the exact strings, so the
    driver compare doubles as a collision-free equivalence check."""
    lines = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.col(text_col), split_re)).alias("line"),
        )
        .select("doc_id", F.trim(F.col("line")).alias("line"))
        .filter(F.length("line") > 0)
        .select("doc_id", F.xxhash64("line").alias("line_h"))
        .distinct()
    )
    boiler = (
        lines.groupBy("line_h").agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("line_h", F.lit(1).alias("is_boiler"))
    )
    return (
        lines.join(boiler, "line_h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.coalesce(F.col("is_boiler"), F.lit(0))).alias("n_boiler_lines"),
        )
    )


def gopher_quality_filter(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Gopher-rule document filter: keep/drop + first failing rule.

    All ratios are exact-integer divisions compared raw (no rounding), so
    the SQL oracle reproduces every boundary decision bit-for-bit.  Native
    expressions only — at 100 TB this is one codegen'd projection over the
    scan, no shuffle."""
    t = F.col(text_col)
    words = F.regexp_extract_all(F.lower(t), F.lit(r"\S+"), 0)
    n_words = F.size(words)
    letters = F.regexp_extract_all(F.lower(t), F.lit(r"[a-z]+"), 0)
    letter_chars = F.aggregate(
        F.transform(letters, F.length), F.lit(0), lambda a, x: a + x
    )
    mwl = letter_chars / F.greatest(F.size(letters), F.lit(1))
    n_hash = F.length(F.regexp_replace(t, r"[^#]", ""))
    n_ellipsis = F.size(F.regexp_extract_all(t, F.lit(r"\.\.\."), 0))
    symbol_ratio = (n_hash + n_ellipsis) / F.greatest(n_words, F.lit(1))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    alpha_ratio = alpha_words / F.greatest(n_words, F.lit(1))
    n_stop = stopword_count(t)

    reason = (
        F.when(n_words < F.lit(GOPHER_MIN_WORDS), F.lit("too_few_words"))
        .when(n_words > F.lit(GOPHER_MAX_WORDS), F.lit("too_many_words"))
        .when(mwl < F.lit(GOPHER_MIN_MEAN_WORD_LEN), F.lit("mean_word_len_low"))
        .when(mwl > F.lit(GOPHER_MAX_MEAN_WORD_LEN), F.lit("mean_word_len_high"))
        .when(symbol_ratio > F.lit(GOPHER_MAX_SYMBOL_RATIO),
              F.lit("symbol_ratio_high"))
        .when(alpha_ratio < F.lit(GOPHER_MIN_ALPHA_WORD_RATIO),
              F.lit("alpha_word_ratio_low"))
        .when(n_stop < F.lit(GOPHER_MIN_STOPWORDS), F.lit("too_few_stopwords"))
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        reason.isNull().alias("keep"),
        reason.alias("drop_reason"),
    )


# Gopher repetition thresholds (Rae et al. 2021, §A1.1)
REP_MAX_DUP_LINE_FRAC = 0.30
REP_MAX_DUP_LINE_CHAR_FRAC = 0.20
REP_MAX_TOP_NGRAM_CHAR_FRAC = {2: 0.20, 3: 0.18, 4: 0.16}
REP_MAX_DUP_NGRAM_CHAR_FRAC = {5: 0.15, 10: 0.10}


def _words_col(text: Column) -> Column:
    return F.filter(
        F.split(F.lower(text), r"\s+"), lambda w: F.length(w) > 0
    )


def _ngrams_col(words: Column, n: int) -> Column:
    """Word n-grams as ' '-joined strings (empty array when the doc has
    fewer than n words)."""

    def gram(i: Column) -> Column:
        parts = [F.element_at(words, i + F.lit(j + 1)) for j in range(n)]
        return F.concat_ws(" ", *parts)

    return F.when(
        F.size(words) >= n,
        F.transform(F.sequence(F.lit(0), F.size(words) - n), gram),
    ).otherwise(F.array().cast("array<string>"))


def _chars_of(arr: Column) -> Column:
    """Σ length over a string array (codegen'd fold)."""
    return F.aggregate(
        F.transform(arr, F.length), F.lit(0), lambda a, x: a + x
    )


def _top_run(sorted_arr: Column) -> Column:
    """(gram, count) of the most frequent element of a SORTED string
    array; ties break to the lexicographically smallest (first seen in
    sorted order wins under strict >).  One codegen'd fold — no shuffle,
    no UDF."""
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"),
        F.lit("").alias("best"), F.lit(0).alias("bestrun"),
    )

    def step(acc: Column, x: Column) -> Column:
        closes = acc["run"] > acc["bestrun"]
        return F.when(
            x == acc["prev"],
            F.struct(
                acc["prev"].alias("prev"), (acc["run"] + 1).alias("run"),
                acc["best"].alias("best"), acc["bestrun"].alias("bestrun"),
            ),
        ).otherwise(
            F.struct(
                x.alias("prev"), F.lit(1).alias("run"),
                F.when(closes, acc["prev"]).otherwise(acc["best"]).alias("best"),
                F.when(closes, acc["run"]).otherwise(acc["bestrun"]).alias("bestrun"),
            )
        )

    def finish(acc: Column) -> Column:
        closes = acc["run"] > acc["bestrun"]
        return F.struct(
            F.when(closes, acc["prev"]).otherwise(acc["best"]).alias("gram"),
            F.when(closes, acc["run"]).otherwise(acc["bestrun"]).alias("cnt"),
        )

    return F.aggregate(sorted_arr, init, step, finish)


def repetition_filter(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Gopher repetition-signal filter (Rae et al. 2021 §A1.1): per-doc
    duplicate-line fractions, top-{2,3,4}-gram char fractions and
    duplicate-{5,10}-gram char fractions, with keep + first-failing-rule,
    mirroring gopher_quality_filter's shape.

    All signals are WITHIN-document, so the whole operator is ONE
    codegen'd projection over the scan — no shuffle, no UDF; at 100 TB
    it runs at scan speed.  Array folds do the per-doc accounting:

    * dup_line_frac        (n_lines − n_distinct_lines) / n_lines over
                           trimmed non-empty lines;
    * dup_line_char_frac   chars of line occurrences BEYOND the first of
                           each distinct line, / doc chars — computed as
                           (Σ chars(all lines) − Σ chars(distinct lines));
    * topN_char_frac       count(most frequent N-gram) · chars(gram) /
                           doc chars, ties to the lexicographically
                           smallest gram (grams are lowercased
                           whitespace-split words ' '-joined, so the
                           char counts include the N−1 separators);
    * dupN_char_frac       chars of N-gram occurrences beyond the first,
                           / doc chars (the classic implementable proxy
                           for Gopher's span-union definition: overlap
                           double-counting is accepted and documented,
                           deterministic, and exactly SQL-expressible).

    Thresholds are the published ones (REP_MAX_*).  Empty docs keep."""
    # STAGED selects, not one projection: a Column reused k times is
    # re-inlined k times (Catalyst only keeps multi-referenced aliases
    # across a Project boundary), and here the words/lines/ngram chains
    # fed every stat column AND the reason when-chain re-read every stat
    # — the flat form measured 200 s on the 5k-doc bench table vs ~2 s
    # staged.  Each stage materialises what the next references >1×.
    t = F.col(text_col)
    # F.trim must be wrapped: it takes an optional second arg, so passing
    # it bare makes transform() call it as a BINARY lambda trim(x, idx) —
    # trimming the index digits instead of whitespace
    lines = F.filter(
        F.transform(F.split(t, r"\n"), lambda x: F.trim(x)),
        lambda x: F.length(x) > 0,
    )
    s1 = docs.select(
        F.col(id_col).alias("doc_id"),
        F.greatest(F.length(t), F.lit(1)).cast("double").alias("__nc"),
        lines.alias("__lines"),
        _words_col(t).alias("__words"),
    )
    words = F.col("__words")
    s2 = s1.select(
        "doc_id", "__nc", "__lines",
        F.array_distinct(F.col("__lines")).alias("__dlines"),
        *[_ngrams_col(words, n).alias(f"__g{n}") for n in (2, 3, 4, 5, 10)],
    )
    # the top-run struct is read twice (cnt, gram) — own stage
    s3 = s2.select(
        "doc_id", "__nc", "__lines", "__dlines", "__g5", "__g10",
        *[_top_run(F.array_sort(F.col(f"__g{n}"))).alias(f"__top{n}")
          for n in (2, 3, 4)],
    )
    n_lines = F.size(F.col("__lines"))
    n_chars = F.col("__nc")
    cols: dict[str, Column] = {
        "dup_line_frac": F.when(
            n_lines > 0,
            (n_lines - F.size(F.col("__dlines"))) / n_lines.cast("double"),
        ).otherwise(F.lit(0.0)),
        "dup_line_char_frac": (
            _chars_of(F.col("__lines")) - _chars_of(F.col("__dlines"))
        ) / n_chars,
    }
    for n in (2, 3, 4):
        top = F.col(f"__top{n}")
        # a gram occurring once is not repetition: without the cnt>=2 gate
        # every short doc trips the rule (one of ~15 grams is >16% of a
        # 60-char doc)
        cols[f"top{n}_char_frac"] = F.when(
            top["cnt"] >= 2,
            (top["cnt"] * F.length(top["gram"])).cast("double") / n_chars,
        ).otherwise(F.lit(0.0))
    for n in (5, 10):
        grams = F.col(f"__g{n}")
        cols[f"dup{n}_char_frac"] = (
            _chars_of(grams) - _chars_of(F.array_distinct(grams))
        ).cast("double") / n_chars
    s4 = s3.select(
        "doc_id", *[c.alias(name) for name, c in cols.items()]
    )

    # the reason chain reads the stat COLUMNS, never their expressions
    reason = F.when(
        F.col("dup_line_frac") > F.lit(REP_MAX_DUP_LINE_FRAC),
        F.lit("dup_line_frac"))
    reason = reason.when(
        F.col("dup_line_char_frac") > F.lit(REP_MAX_DUP_LINE_CHAR_FRAC),
        F.lit("dup_line_char_frac"))
    for n, thr in REP_MAX_TOP_NGRAM_CHAR_FRAC.items():
        reason = reason.when(F.col(f"top{n}_char_frac") > F.lit(thr),
                             F.lit(f"top{n}_char_frac"))
    for n, thr in REP_MAX_DUP_NGRAM_CHAR_FRAC.items():
        reason = reason.when(F.col(f"dup{n}_char_frac") > F.lit(thr),
                             F.lit(f"dup{n}_char_frac"))

    return s4.select(
        "doc_id", *cols.keys(),
        reason.isNull().alias("keep"),
        reason.alias("drop_reason"),
    )


def contamination_check(docs: DataFrame, eval_df: DataFrame, n: int = 8,
                        text_col: str = "text", id_col: str = "doc_id",
                        eval_text_col: str = "text") -> DataFrame:
    """Benchmark-contamination scan (the PaLM/GPT-3 style n-gram overlap
    test): for every corpus document, how many of its distinct word
    n-grams appear anywhere in the evaluation set.

    100 TB shape: the eval side is tiny by construction (benchmarks are
    KBs-MBs) — its distinct grams are BROADCAST, the corpus side explodes
    its grams and aggregates the semi-join hits back per doc: no shuffle
    of corpus rows at all (explode + broadcast-join + partial agg).
    Returns (doc_id, n_grams, n_overlap, overlap_frac, contaminated);
    contaminated ⇔ any overlap, the standard decontamination rule."""
    # STAGED: words in their own projection (each gram position reads the
    # words array n times via element_at — inlined, the split+filter
    # chain re-executes per element: measured 25 s vs 0.6 s on the bench
    # table), then the gram array, then explode_outer + isNotNull (a
    # plain explode gets an inferred size()>0 filter pushed below the
    # parallelising exchange — see dedup.duplicate_spans, 10×).
    eval_grams = (
        eval_df.select(_words_col(F.col(eval_text_col)).alias("__w"))
        .select(F.explode_outer(_ngrams_col(F.col("__w"), n)).alias("gram"))
        .filter(F.col("gram").isNotNull())
        .distinct()
    )
    doc_grams = (
        ensure_parallel(docs.select(
            F.col(id_col).alias("doc_id"),
            _words_col(F.col(text_col)).alias("__w"),
        ))
        .select("doc_id",
                F.array_distinct(_ngrams_col(F.col("__w"), n)).alias("__g"))
        .select("doc_id", F.explode_outer("__g").alias("gram"))
        .filter(F.col("gram").isNotNull())
    )
    hits = doc_grams.join(F.broadcast(eval_grams.withColumn("hit", F.lit(1))),
                          "gram", "left")
    # count(hit) (non-null = joined) rather than sum: oracle dialects keep
    # count() in BIGINT where sum(int) may widen (DuckDB → HUGEINT)
    per_doc = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count(F.col("hit")).alias("n_overlap"),
    )
    # docs too short for any n-gram never reach the explode — restore them
    base = docs.select(F.col(id_col).alias("doc_id"))
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) /
             F.greatest(F.coalesce("n_grams", F.lit(0)), F.lit(1))
             .cast("double")).alias("overlap_frac"),
            (F.coalesce("n_overlap", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def _md5_u01(key: Column) -> Column:
    """Deterministic uniform-ish [0,1) from the first 6 hex chars of
    md5(key) — digit-by-digit positional arithmetic so the EXACT value is
    reproducible in any SQL dialect with md5/substring/strpos (no
    conv/from_hex needed)."""
    h = F.md5(key)
    val: Column = F.lit(0)
    for i in range(1, 7):
        d = F.instr(F.lit("0123456789abcdef"), F.substring(h, i, 1)) - 1
        val = val * 16 + d
    return val.cast("double") / F.lit(float(16 ** 6))


def domain_mix_sample(docs: DataFrame, weights: dict[str, float],
                      stratum_col: str = "source",
                      id_col: str = "doc_id") -> DataFrame:
    """Deterministic stratified corpus sampling — the domain-mixture step
    of a training-data pipeline: keep each row iff u01(md5(id:stratum)) <
    weight[stratum] (strata absent from `weights` drop).

    Content-free hashing on (id, stratum) keeps the decision stable
    across runs/partitionings and engines; one codegen'd projection +
    filter, no shuffle, trivially pushdown-friendly at 100 TB."""
    u = _md5_u01(F.concat_ws(":", F.col(id_col).cast("string"),
                             F.col(stratum_col)))
    w = F.lit(None).cast("double")
    expr = None
    for name, frac in sorted(weights.items()):
        branch = (F.col(stratum_col) == name, F.lit(float(frac)))
        expr = F.when(*branch) if expr is None else expr.when(*branch)
    w = expr.otherwise(F.lit(0.0)) if expr is not None else F.lit(0.0)
    return docs.withColumn("_u", u).filter(F.col("_u") < w).drop("_u")
