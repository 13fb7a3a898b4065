"""Deduplication operators for large-scale training-data pipelines.

All four dedup families over a documents(doc_id, text) table:

  exact        — hash-groupBy on md5(text) (one shuffle, partial agg)
  ngram-jaccard— word n-gram shingles → inverted-index self-join →
                 |A∩B|/|A∪B| ≥ τ  (the MF-Join/prefix-filter family;
                 a document-frequency cap bounds hot-shingle fan-out)
  MinHash+LSH  — k permutation-free min-hashes over md5-derived token
                 ids, banded into LSH buckets; candidate pairs are bucket
                 collisions (shuffle ∝ docs·bands, not docs²)
  SimHash      — 32-bit per-bit majority vote over token hashes; near-dups
                 collide on bucket prefixes / small hamming distance

Everything is built from native expressions (no UDFs): the hash chain is
md5-prefix → bigint so the DuckDB oracle can reproduce values exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as SqlWindow
from pyspark.sql import functions as F

from address_matcher_spark.operators._util import ensure_parallel

TOKEN_RE = r"[a-z0-9]+"

# deterministic MinHash parameters (shared with the SQL oracle)
MINHASH_PRIME = 4_294_967_311  # smallest prime > 2^32
MINHASH_K = 12


def _minhash_params(k: int = MINHASH_K) -> list[tuple[int, int]]:
    # fixed small odd multipliers/offsets; (a*h+b) stays < 2^63 for h < 2^32
    return [(2 * i + 3, 104_729 * (i + 1)) for i in range(k)]


def tokens(text: Column) -> Column:
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE), 0)


def token_hash(tok: Column) -> Column:
    """Token → bigint via first 8 hex chars of md5 (engine-portable)."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("bigint")


def token_hashes(text: Column) -> Column:
    """Distinct-token hash array.  ALWAYS give this its own projection
    (select(..., token_hashes(text).alias("__h")) and fan out from the
    column) when the consumer references it more than once: Catalyst
    re-inlines single-use aliases but keeps a multi-referenced non-cheap
    alias materialised, and the tokenise+md5-per-token chain inlined k
    times was measured 8× slower than the projected form (round 6)."""
    return F.transform(F.array_distinct(tokens(text)), token_hash)


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingle strings from a token-array COLUMN
    ([] for docs shorter than n tokens — sequence(1, 0) would DESCEND,
    so guard explicitly).  Prefer this over shingles() whenever the
    caller can project the token array first (see token_hashes note)."""
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i, n), " ")
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def shingles(text: Column, n: int = 3) -> Column:
    """shingles_from_tokens over an inline tokenisation — only for
    single-reference consumers."""
    return shingles_from_tokens(tokens(text), n)


def exact_duplicates(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: groups of byte-identical documents (keeper = min id)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keeper_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int = 1000,
    dropped_out: list | None = None,
) -> DataFrame:
    """Near-dup pairs by word-n-gram Jaccard ≥ threshold.

    Inverted-index plan: explode shingles → drop shingles appearing in >
    max_doc_freq docs (hot-token fan-out cap) → self-join on shingle →
    per-pair intersection counts → |A∩B|/(|A|+|B|-|A∩B|).

    The doc-freq cap is a RECALL trade: pairs similar only through
    ultra-common shingles can be missed.  Pass `dropped_out=[]` to have
    the number of capped shingles counted and appended (one extra small
    aggregate job) so the truncation is never silent; leave it None on
    the hot path.  Jaccard sizes (na/nb) always count ALL shingles, so
    reported similarities are exact for surviving pairs either way.
    """
    # explode_outer + isNotNull, not explode — see duplicate_spans: the
    # inferred size()>0 generate-filter would re-evaluate the shingle
    # chain below the repartition on the scan's input split
    sh = (
        ensure_parallel(docs)
        .select(F.col(id_col).alias("doc_id"),
                tokens(F.col(text_col)).alias("__t"))
        .select("doc_id",
                F.explode_outer(shingles_from_tokens(F.col("__t"), n))
                .alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )
    # SINGLE-CONSUMPTION shape (round 8): the old plan fanned sh out to
    # three aggregate branches (sizes, freq, the capped join input) and
    # joined sizes back twice — Catalyst re-evaluated the tokenise +
    # shingle chain once per branch (no DAG sharing).  Ride both counts
    # on sh itself as count windows (per_doc size, per-shingle doc
    # frequency): sh is distinct on (doc, shingle) by construction, so
    # the windows equal the old groupBy counts, the chain evaluates
    # exactly ONCE, and na/nb arrive on the join inputs for free.  The
    # shingle window's hash partitioning is exactly the self-join's
    # required clustering, and the join's two sides are the identical
    # subtree (one ReusedExchange instead of two shuffles).
    w_doc = SqlWindow.partitionBy("doc_id")
    w_sh = SqlWindow.partitionBy("shingle")
    shd = (
        sh.withColumn("__n", F.count(F.lit(1)).over(w_doc))
        .withColumn("__df", F.count(F.lit(1)).over(w_sh))
    )
    if dropped_out is not None:
        n_dropped = (
            shd.filter(F.col("__df") > max_doc_freq)
            .select("shingle").distinct().count()
        )
        dropped_out.append(n_dropped)
    sh_f = shd.filter(F.col("__df") <= max_doc_freq)
    a = sh_f.select(F.col("doc_id").alias("a"), "shingle",
                    F.col("__n").alias("na"))
    b = sh_f.select(F.col("doc_id").alias("b"), "shingle",
                    F.col("__n").alias("nb"))
    common = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("a", "b", "jaccard")


def minhash_signature_cols_from_hashes(
    hashes: Column, k: int = MINHASH_K,
) -> list[Column]:
    """k min-hash values from a token-hash array COLUMN (see
    token_hashes): mh_i = min over tokens of (a_i * H(tok) + b_i) mod p."""
    def _perm(a: int, b: int):
        # closure factory: F.transform inspects lambda arity, so the
        # parameters must not leak into the signature
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_PRIME)

    out = []
    for i, (a, b) in enumerate(_minhash_params(k)):
        out.append(F.array_min(F.transform(hashes, _perm(a, b))).alias(f"mh{i}"))
    return out


def minhash_signature_cols(text: Column, k: int = MINHASH_K) -> list[Column]:
    """k min-hash values over an inline tokenisation — only for callers
    that cannot project token_hashes first (the inlined hash chain is
    re-evaluated k times; the projected form is the hot path)."""
    return minhash_signature_cols_from_hashes(token_hashes(text), k)


def _band_rows(sig: DataFrame, k: int, bands: int) -> DataFrame:
    """Signature table (doc_id, mh0..mh{k-1}) → LSH band rows
    (doc_id, band, band_sig): one row per (doc, band), band_sig the
    ':'-joined band slice of the signature."""
    rows_per_band = k // bands
    band_rows = []
    for bidx in range(bands):
        cols = [F.col(f"mh{bidx * rows_per_band + j}").cast("string")
                for j in range(rows_per_band)]
        band_rows.append(
            sig.select(
                "doc_id",
                F.lit(bidx).alias("band"),
                F.concat_ws(":", *cols).alias("band_sig"),
            )
        )
    allb = band_rows[0]
    for bdf in band_rows[1:]:
        allb = allb.unionByName(bdf)
    return allb


def _bucket_star_edges(band_rows: DataFrame,
                       fresh_col: str | None = None) -> DataFrame:
    """Connectivity-preserving contraction of the within-bucket pair set
    (round 8, guide §2.3 — shuffle keys, not payloads, and never generate
    what you only need the closure of): per (band, band_sig) bucket emit
    ONE star — every member connected to the bucket's min doc_id — instead
    of the all-pairs join.  A b-member bucket contributes b-1 edges, not
    b(b-1)/2: all members are connected through the root, so connected
    components over the stars equal connected components over the pairs
    (each bucket's members form one component fragment either way).  The
    bench corpus's ~2700-doc near-dup buckets made the pairwise form emit
    15.2M in-bucket pairs at sf0.1; the stars are ≤ docs×bands rows total.

    fresh_col: incremental-refresh restriction — only buckets holding at
    least one fresh (flag=1) row emit their star, mirroring the original
    fresh×(old ∪ fresh) join which likewise emitted nothing for buckets
    of only-old docs (their connectivity already lives in the old
    labels).  Equivalence per bucket B with fresh F≠∅: the original edge
    set {(f, x) : f ∈ F, x ∈ B, x ≠ f} and the star {(min B, x)} both
    connect exactly the members of B, and both touch every member of B
    as an endpoint — so the CC labels AND the touched-cluster detection
    downstream are unchanged.
    """
    w = SqlWindow.partitionBy("band", "band_sig")
    out = band_rows.withColumn("__root", F.min("doc_id").over(w))
    if fresh_col is not None:
        out = (
            out.withColumn("__hf", F.max(F.col(fresh_col)).over(w))
            .filter(F.col("__hf") == 1)
        )
    return (
        out.filter(F.col("doc_id") != F.col("__root"))
        .select(F.col("__root").alias("src"), F.col("doc_id").alias("dst"))
        .distinct()
    )


def star_edges_from_signatures(
    sigs: DataFrame, k: int = MINHASH_K, bands: int = 4,
) -> DataFrame:
    """minhash_lsh_star_edges over an EXISTING signature table
    (doc_id, mh0..mh{k-1}) — the form to use when the signatures are
    already materialised (e.g. the durable corpus-refresh state), so the
    tokenise+minhash projection is not recomputed from text."""
    return _bucket_star_edges(_band_rows(sigs, k, bands))


def minhash_lsh_star_edges(
    docs: DataFrame,
    k: int = MINHASH_K,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Edge set with the SAME connected components as minhash_lsh_pairs,
    in O(docs×bands) edges instead of O(Σ bucket²) — the input to use for
    clustering (connected_components); use minhash_lsh_pairs only when
    the individual candidate pairs themselves are the product."""
    sig = (
        ensure_parallel(docs)
        .select(F.col(id_col).alias("doc_id"),
                token_hashes(F.col(text_col)).alias("__h"))
        .select("doc_id", *minhash_signature_cols_from_hashes(F.col("__h"), k))
    )
    return star_edges_from_signatures(sig, k, bands)


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = MINHASH_K,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH candidate pairs: docs sharing any full band of the signature.
    Shuffle cost is docs×bands rows, never the quadratic pair space.
    NOTE the OUTPUT is quadratic in bucket size (that is its semantic —
    each colliding pair is a row); consumers that only need the
    transitive closure should take minhash_lsh_star_edges instead."""
    sig = (
        ensure_parallel(docs)
        .select(F.col(id_col).alias("doc_id"),
                token_hashes(F.col(text_col)).alias("__h"))
        .select("doc_id", *minhash_signature_cols_from_hashes(F.col("__h"), k))
    )
    allb = _band_rows(sig, k, bands)
    left = allb.select(F.col("doc_id").alias("a"), "band", "band_sig")
    right = allb.select(F.col("doc_id").alias("b"), "band", "band_sig")
    return (
        left.join(right, ["band", "band_sig"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_signature_table(
    docs: DataFrame,
    k: int = MINHASH_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The persisted corpus-dedup state: (doc_id, content_hash, mh0..mh{k-1})
    — one projection over the batch, appended (never rewritten) on each
    corpus refresh.  content_hash feeds the exact-dup anti-join; the
    signature columns feed the LSH band join."""
    return (
        ensure_parallel(docs)
        .select(F.col(id_col).alias("doc_id"),
                F.md5(F.col(text_col)).alias("content_hash"),
                token_hashes(F.col(text_col)).alias("__h"))
        .select("doc_id", "content_hash",
                *minhash_signature_cols_from_hashes(F.col("__h"), k))
    )


def incremental_dedup_labels(
    new_docs: DataFrame,
    old_sigs: DataFrame,
    old_labels: DataFrame,
    k: int = MINHASH_K,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-refresh dedup — the reference's checkpoint/resume (S4,
    tools/matcher_funcs.py checkpointing) + anti-join-what's-done (J15)
    pattern applied to training-corpus maintenance: label a NEW batch of
    documents against the EXISTING corpus state without ever re-pairing
    the old corpus against itself.

    Inputs: the new batch, the persisted signature table of all prior
    batches (minhash_signature_table), and the prior cluster labels
    (connected components over the prior LSH pairs, hash-to-min ids).

    The 100 TB shape per refresh:
      1. signatures: ONE projection over the new batch only;
      2. exact dupes: new docs whose content_hash already exists (in the
         old state or under a smaller new id) skip LSH banding entirely —
         identical text ⇒ identical signature ⇒ zero new information —
         and connect by a direct edge to the min doc with that content;
      3. LSH connectivity: per-(band, bucket) STAR edges over old ∪
         fresh band rows, restricted to buckets holding a fresh doc —
         shuffle ∝ (|old|+|new|)·bands rows AND edges ∝ bucket sizes
         (not bucket²); old-only buckets emit nothing (their
         connectivity already lives in old_labels);
      4. connected components over (new pairs) ∪ (exact-twin edges) ∪
         the star edges of only the TOUCHED old clusters — old clusters
         no new edge reaches are passed through verbatim, so the CC
         superstep loop shuffles rows ∝ the affected subgraph, never the
         full historical label table; a new doc bridging two old
         clusters still relabels both correctly (their stars are in).

    Returns labels(node, cluster_id) over old ∪ new — provably identical
    to the one-shot minhash_lsh_pairs → connected_components clustering
    of the union (the old-label stars preserve exactly the old-vs-old
    connectivity; cross and new-new edges are regenerated from the same
    deterministic signatures; exact twins are band-collisions in every
    band one-shot, a direct edge here).  Pytest proves batch1+batch2 ≡
    one-shot and a three-batch chain; the driver oracle is the one-shot
    recursive-CTE closure over ALL documents."""
    from address_matcher_spark.operators.cluster import connected_components

    # Materialise the new batch's signatures ONCE: three consumers below
    # (rep union, twin join, fresh anti-join) and Catalyst re-evaluates
    # shared subtrees per consumer — without this the token-hash/minhash
    # projection ran 3× over the batch.  In production this localCheckpoint
    # is exactly the append to the durable signature table (the state the
    # next refresh reads as old_sigs), so the cost is the contract, not
    # overhead.
    new_sigs = minhash_signature_table(
        new_docs, k, text_col, id_col
    ).localCheckpoint()

    # min doc id per content hash across old state ∪ new batch
    reps = (
        old_sigs.select("doc_id", "content_hash")
        .unionByName(new_sigs.select("doc_id", "content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("rep"))
    )
    twin_edges = (
        new_sigs.join(reps, "content_hash")
        .filter(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("src"), F.col("doc_id").alias("dst"))
    )
    fresh = new_sigs.join(
        twin_edges.select(F.col("dst").alias("doc_id")), "doc_id", "left_anti"
    )

    # Star edges per (band, bucket) instead of the fresh×(old ∪ fresh)
    # pair join (round 8): a bucket with any fresh member emits one star
    # (members → bucket min), which has the identical connected
    # components and identical endpoint set as the pairwise form (proof
    # in _bucket_star_edges) at O(bucket) instead of O(bucket·fresh)
    # edges — the sf0.1 bench corpus's ~2700-doc near-dup buckets made
    # the pairwise refresh emit millions of edges for a 1250-doc batch.
    fresh_bands = _band_rows(fresh, k, bands).withColumn(
        "__fresh", F.lit(1))
    all_bands = _band_rows(old_sigs, k, bands).withColumn(
        "__fresh", F.lit(0)).unionByName(fresh_bands)
    lsh_edges = _bucket_star_edges(all_bands, fresh_col="__fresh")
    # Materialise the refresh's edge set once: THREE consumers below
    # (endpoint extraction reads src and dst, the CC input unions it) and
    # Catalyst re-evaluates the whole band join per consumer — measured
    # ~2× the refresh wall at sf0.1 before this cut.  The edge set is
    # also the natural durable artifact of a refresh (the pairs audit
    # trail), so production runs pay this write anyway.
    new_edges = lsh_edges.unionByName(twin_edges).localCheckpoint()

    # restrict the CC loop to the affected subgraph: old clusters no new
    # edge touches keep their labels verbatim (at corpus scale the
    # historical label table dwarfs a refresh batch — shuffling it every
    # superstep would be the bottleneck)
    endpoints = (
        new_edges.select(F.col("src").alias("node"))
        .unionByName(new_edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    touched = (
        old_labels.join(endpoints, "node").select("cluster_id").distinct()
    )
    touched_stars = (
        old_labels.join(touched, "cluster_id")
        .select(F.col("cluster_id").alias("src"), F.col("node").alias("dst"))
    )
    untouched = old_labels.join(touched, "cluster_id", "left_anti").select(
        "node", "cluster_id"
    )
    labels = connected_components(new_edges.unionByName(touched_stars))
    return labels.unionByName(untouched)


def simhash32_from_hashes(hashes: Column) -> Column:
    """32-bit SimHash from a token-hash array COLUMN (see token_hashes):
    per-bit majority over distinct-token hashes.  The hash array is
    referenced 32× (once per bit) — inlining the tokenise+md5 chain here
    re-evaluates it per bit, which is why the column form exists."""
    def _vote(bit: int):
        mask = 1 << bit
        return lambda h: F.when(
            h.bitwiseAND(F.lit(mask)) == mask, F.lit(1)
        ).otherwise(F.lit(-1))

    bit_terms = []
    for bit in range(32):
        votes = F.transform(hashes, _vote(bit))
        total = F.aggregate(votes, F.lit(0), lambda acc, x: acc + x)
        bit_terms.append(
            F.when(total > 0, F.lit(2 ** bit).cast("bigint")).otherwise(F.lit(0))
        )
    out = bit_terms[0]
    for t in bit_terms[1:]:
        out = out + t
    return out


def simhash_buckets(docs: DataFrame, prefix_bits: int = 8,
                    text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Docs grouped by SimHash high-bit prefix — the scale path for
    hamming-near-dup candidate generation."""
    return (
        ensure_parallel(docs)
        .select(F.col(id_col).alias("doc_id"),
                token_hashes(F.col(text_col)).alias("__h"))
        .select("doc_id", simhash32_from_hashes(F.col("__h")).alias("simhash"))
        .withColumn("bucket", F.shiftright(F.col("simhash"), 32 - prefix_bits))
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 6,
    dim: int = 64,
    n_bands: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the semantic-dedup family):
    hyperplane-LSH bucket both copies of the corpus per band, compare only
    within (band, bucket), keep pairs with cosine ≥ threshold.  A pair
    colliding in several bands is deduplicated before scoring.

    Scale shape: shuffle ∝ rows×n_bands (bucket equi-join), pairs ∝
    Σ_band Σ bucket² — never the corpus cross-product.  Recall follows
    the OR-banding bound P[candidate] = 1 - (1 - (1-θ/π)^n_planes)^n_bands
    — raise n_bands for recall at linear cost instead of shrinking
    n_planes (which coarsens every bucket quadratically)."""
    from address_matcher_spark.operators.similarity import (
        banded_signatures,
        cosine_similarity,
    )

    a = banded_signatures(embeddings, "a", "va", n_planes, dim, n_bands,
                          id_col, vec_col)
    b = banded_signatures(embeddings, "b", "vb", n_planes, dim, n_bands,
                          id_col, vec_col)
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])  # identical payloads per dup → safe
        .select(
            "a", "b",
            F.round(cosine_similarity(F.col("va"), F.col("vb")), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    return pairs


def duplicate_spans(
    docs: DataFrame,
    window: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document exact-substring duplication — the ExactSubstr dedup
    family (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better", arXiv:2107.06499) re-expressed as window hashing:
    every length-`window` token window of every document is hashed, and a
    window whose hash occurs in >= `min_docs` DISTINCT documents marks a
    duplicated span.  (The paper's suffix array finds arbitrary-length
    repeats; fixed-W windows find exactly the repeats of length >= W,
    which is the deduplication signal — the suffix array is a single-node
    structure with no distributed equivalent, the window hash is one
    shuffle.)

    Returns one row per document: total window count, the number of
    windows lying on cross-document duplicated spans, and their fraction.

    Scale shape: the explode is windows ∝ tokens (each token starts at
    most one window); the hash groupBy partial-aggregates map-side, so
    the shuffle carries one (hash, doc) row per DISTINCT window per doc;
    the stats join back is a broadcast-able aggregate only when the
    duplicated-hash set is small — here it is an equi-join on the window
    hash, shuffle ∝ windows, never pairs.  Window strings themselves
    never shuffle — only their md5.
    """
    # tokens get their own projection: the window expression references
    # the array 3× (bound, slice, guard) and F.transform would otherwise
    # re-run the tokeniser per WINDOW — measured 8× slower when inlined
    toks = F.col("__t")
    idx = F.sequence(F.lit(1), F.size(toks) - (window - 1))
    grams = F.transform(
        idx, lambda i: F.md5(F.array_join(F.slice(toks, i, window), " "))
    )
    wins = F.when(F.size(toks) >= window, grams).otherwise(
        F.array().cast("array<string>")
    )
    base = ensure_parallel(
        docs.select(F.col(id_col), tokens(F.col(text_col)).alias("__t"))
    ).select(F.col(id_col), wins.alias("__w"))
    # explode_outer + isNotNull, NOT explode: InferFiltersFromGenerate
    # turns a plain explode into a `size(__w) > 0` pre-filter that
    # predicate-pushdown carries below the repartition — re-evaluating
    # the whole window chain on the raw text on the scan's (single)
    # input split.  Measured 10× on the 5k-doc bench table (5.7 s →
    # 0.5 s); explode_outer infers nothing and the null row filter runs
    # post-Generate.
    exploded = base.select(
        id_col, F.explode_outer("__w").alias("wh")
    ).filter(F.col("wh").isNotNull())
    # Single-consumption shape: every downstream quantity derives from
    # ONE aggregate chain.  Catalyst duplicates multi-consumer subtrees
    # (no DAG sharing without materialisation), so the earlier
    # totals/dup_hashes/dup_per_doc three-way fan-out re-evaluated the
    # window transform in THREE scan branches — 3× the dominant cost.
    # A count window over wh replaces the dup-hash self-join outright.
    per_doc = exploded.groupBy(id_col, "wh").agg(F.count(F.lit(1)).alias("n"))
    # per_doc is distinct on (doc, hash), so distinct-doc count per hash
    # is a plain count(*) — as a window, partitioned like a groupBy(wh)
    nd = F.count(F.lit(1)).over(SqlWindow.partitionBy("wh"))
    stats = (
        per_doc.withColumn("__nd", nd)
        .groupBy(id_col)
        .agg(
            F.sum("n").alias("n_windows"),
            F.sum(F.when(F.col("__nd") >= min_docs, F.col("n"))
                  .otherwise(F.lit(0))).alias("n_dup_windows"),
        )
    )
    # restore zero-window docs (shorter than the window): join from the
    # plain id projection — cheap scan, no window expression on this side
    return (
        docs.select(id_col).join(stats, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_windows"), F.lit(0))
            .cast("bigint").alias("n_windows"),
            F.coalesce(F.col("n_dup_windows"), F.lit(0))
            .cast("bigint").alias("n_dup_windows"),
            F.when(
                F.coalesce(F.col("n_windows"), F.lit(0)) > 0,
                F.round(
                    F.coalesce(F.col("n_dup_windows"), F.lit(0))
                    / F.col("n_windows"), 6),
            ).otherwise(F.lit(0.0)).alias("dup_frac"),
        )
    )


def duplicate_span_bounds(
    docs: DataFrame,
    window: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicated-SPAN extraction — the cutting half of ExactSubstr dedup
    (Lee et al. 2022, arXiv:2107.06499 §4.1): where duplicate_spans
    reports per-doc counts, this returns the actual token-offset bounds a
    downstream pass needs to cut the spans out.

    Every length-`window` token window occurring in >= `min_docs`
    distinct documents marks tokens [off, off+window); overlapping or
    touching marked windows within a document merge into maximal spans
    (gaps-and-islands over the sorted offsets: a new span starts when an
    offset exceeds the previous one by more than `window`).  Returns one
    row per (document, span): 0-based `span_start`, exclusive `span_end`
    in token units, and the number of duplicated windows merged into the
    span.  Documents with no duplicated window yield no rows.

    Scale shape: identical to duplicate_spans up to the per-(doc, hash)
    aggregate — windows ∝ tokens, only md5s shuffle, the distinct-doc
    count is a count window over already-distinct (doc, hash) rows, and
    the token/window projection is consumed exactly ONCE (offsets ride
    the aggregate as collect_list so no second scan branch re-evaluates
    the window transform).  The islands pass shuffles only the
    DUPLICATED offsets (dup_frac × windows rows), partitioned by doc.
    """
    toks = F.col("__t")
    idx = F.sequence(F.lit(1), F.size(toks) - (window - 1))
    grams = F.transform(
        idx, lambda i: F.md5(F.array_join(F.slice(toks, i, window), " "))
    )
    wins = F.when(F.size(toks) >= window, grams).otherwise(
        F.array().cast("array<string>")
    )
    base = ensure_parallel(
        docs.select(F.col(id_col), tokens(F.col(text_col)).alias("__t"))
    ).select(F.col(id_col), wins.alias("__w"))
    # posexplode_outer, NOT posexplode — same InferFiltersFromGenerate
    # trap as duplicate_spans (a plain generator grows a size()>0 filter
    # that pushdown re-evaluates below the parallelising exchange)
    exploded = base.select(
        id_col, F.posexplode_outer("__w").alias("off", "wh")
    ).filter(F.col("wh").isNotNull())
    per_doc = exploded.groupBy(id_col, "wh").agg(
        F.collect_list("off").alias("offs")
    )
    # per_doc is distinct on (doc, hash) → distinct-doc count per hash is
    # a plain count window, partitioned like a groupBy(wh)
    nd = F.count(F.lit(1)).over(SqlWindow.partitionBy("wh"))
    dup_offs = (
        per_doc.withColumn("__nd", nd)
        .filter(F.col("__nd") >= min_docs)
        .select(id_col, F.explode("offs").alias("off"))
    )
    w_doc = SqlWindow.partitionBy(id_col).orderBy("off")
    brk = F.when(
        F.col("off") > F.lag("off").over(w_doc) + window, F.lit(1)
    ).otherwise(F.lit(0))
    return (
        dup_offs.withColumn("__brk", brk)
        .withColumn(
            "__island",
            F.sum("__brk").over(
                w_doc.rowsBetween(SqlWindow.unboundedPreceding, 0)
            ),
        )
        .groupBy(id_col, "__island")
        .agg(
            F.min("off").cast("bigint").alias("span_start"),
            (F.max("off") + window).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_span_windows"),
        )
        .select(id_col, "span_start", "span_end", "n_span_windows")
    )
