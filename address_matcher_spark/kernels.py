"""Pure-Python/NumPy string-similarity kernels.

These reproduce the scorer semantics the reference pipeline depends on
(rapidfuzz ``fuzz.ratio`` / ``fuzz.token_set_ratio`` used at
``/root/reference/tools/fuzzy_match.py:88-94,132`` and the jellyfish
``jaro_winkler`` used via recordlinkage at
``/root/reference/tools/recordlinkage_funcs.py:62-66``), implemented from
the published algorithm definitions (Indel/LCS bit-parallelism per Hyyro
2004; Jaro-Winkler per Winkler 1990).  rapidfuzz/jellyfish are not
available in this environment, and on a cluster we want a dependency-free
kernel importable inside Arrow-batched pandas UDFs.

Design notes for scale:
  * no per-call allocation beyond small dicts; bit-parallel LCS is O(n*m/64)
  * batch entry points (`ratio_batch`, `jaro_winkler_batch`) deduplicate
    repeated strings within an Arrow batch (blocks repeat the same
    reference rows many times), so the per-unique-pair kernel runs once
    per distinct pair.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "indel_distance",
    "ratio",
    "token_set_ratio",
    "token_set_ratio_cutoff",
    "jaro_similarity",
    "jaro_winkler_similarity",
    "levenshtein",
    "levenshtein_grid",
    "levenshtein_sim_grid",
    "ratio_batch",
    "jaro_winkler_batch",
]


def _lcs_len(a: str, b: str) -> int:
    """Length of the longest common subsequence (bit-parallel, Hyyro 2004)."""
    m = len(a)
    n = len(b)
    if m == 0 or n == 0:
        return 0
    if m > n:
        a, b = b, a
        m, n = n, m
    # positional bitmask per character of the shorter string
    pm: dict[str, int] = {}
    bit = 1
    for ch in a:
        pm[ch] = pm.get(ch, 0) | bit
        bit <<= 1
    mask = (1 << m) - 1
    s = mask
    for ch in b:
        matches = pm.get(ch)
        if matches:
            u = s & matches
            s = ((s + u) | (s - u)) & mask
    # zero bits mark LCS positions
    return m - bin(s).count("1")


def indel_distance(a: str, b: str) -> int:
    """Insert/delete edit distance = len(a)+len(b)-2*LCS."""
    return len(a) + len(b) - 2 * _lcs_len(a, b)


def ratio(a: str, b: str) -> float:
    """rapidfuzz ``fuzz.ratio``: normalized Indel similarity * 100."""
    lensum = len(a) + len(b)
    if lensum == 0:
        return 100.0
    return (lensum - indel_distance(a, b)) * 100.0 / lensum


def token_set_ratio(s1: str, s2: str) -> float:
    """rapidfuzz ``fuzz.token_set_ratio`` (no preprocessing).

    Tokenise on whitespace into sets; if one token set is a subset of the
    other (with non-empty intersection) the score is 100; otherwise the max
    of ratio(diff_ab, diff_ba) and two sect-vs-sect+diff similarities where
    the distance is purely the appended-suffix length.
    """
    tokens_a = set(s1.split())
    tokens_b = set(s2.split())
    if not tokens_a or not tokens_b:
        return 0.0
    intersect = tokens_a & tokens_b
    diff_ab = tokens_a - tokens_b
    diff_ba = tokens_b - tokens_a
    if intersect and (not diff_ab or not diff_ba):
        return 100.0
    diff_ab_joined = " ".join(sorted(diff_ab))
    diff_ba_joined = " ".join(sorted(diff_ba))
    ab_len = len(diff_ab_joined)
    ba_len = len(diff_ba_joined)
    sect_len = len(" ".join(intersect))
    sect_ab_len = sect_len + (1 if sect_len else 0) + ab_len
    sect_ba_len = sect_len + (1 if sect_len else 0) + ba_len
    result = ratio(diff_ab_joined, diff_ba_joined)
    sect_ab_dist = (1 if sect_len else 0) + ab_len
    sect_ab_ratio = (1.0 - sect_ab_dist / (sect_len + sect_ab_len)) * 100.0
    sect_ba_dist = (1 if sect_len else 0) + ba_len
    sect_ba_ratio = (1.0 - sect_ba_dist / (sect_len + sect_ba_len)) * 100.0
    return max(result, sect_ab_ratio, sect_ba_ratio)


def token_set_ratio_cutoff(s1: str, s2: str, cutoff: float) -> float:
    """token_set_ratio with rapidfuzz ``score_cutoff`` semantics: scores
    below the cutoff collapse to 0 (``process.cdist(score_cutoff=...)``,
    reference ``tools/fuzzy_match.py:88,94``)."""
    score = token_set_ratio(s1, s2)
    return score if score >= cutoff else 0.0


def jaro_similarity(s1: str, s2: str) -> float:
    """Classic Jaro similarity in [0, 1] (jellyfish-compatible)."""
    len1 = len(s1)
    len2 = len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    search_range = max(len1, len2) // 2 - 1
    if search_range < 0:
        search_range = 0
    flags1 = [False] * len1
    flags2 = [False] * len2
    matches = 0
    for i, ch in enumerate(s1):
        lo = i - search_range if i > search_range else 0
        hi = i + search_range + 1
        if hi > len2:
            hi = len2
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == ch:
                flags1[i] = True
                flags2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    j = 0
    for i in range(len1):
        if flags1[i]:
            while not flags2[j]:
                j += 1
            if s1[i] != s2[j]:
                transpositions += 1
            j += 1
    half_t = transpositions // 2
    m = float(matches)
    return (m / len1 + m / len2 + (m - half_t) / m) / 3.0


def jaro_winkler_similarity(s1: str, s2: str, prefix_weight: float = 0.1) -> float:
    """Jaro-Winkler in [0, 1]: prefix boost (<=4 chars) applied when the
    Jaro score exceeds the 0.7 boost threshold (jellyfish-compatible, as
    used by recordlinkage in the reference NN pass)."""
    jaro = jaro_similarity(s1, s2)
    if jaro > 0.7:
        prefix = 0
        for c1, c2 in zip(s1, s2):
            if c1 != c2 or prefix == 4:
                break
            prefix += 1
        jaro += prefix_weight * prefix * (1.0 - jaro)
    return jaro


def levenshtein(a: str, b: str) -> int:
    """Levenshtein distance (unit costs), iterative two-row DP."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    if len(a) > len(b):
        a, b = b, a
    prev = list(range(len(a) + 1))
    for j, cb in enumerate(b, 1):
        cur = [j]
        for i, ca in enumerate(a, 1):
            cost = 0 if ca == cb else 1
            cur.append(min(prev[i] + 1, cur[i - 1] + 1, prev[i - 1] + cost))
        prev = cur
    return prev[-1]


def _norm_str_array(vals) -> np.ndarray:
    """Object array with None/NaN normalized to '' BEFORE factorization.
    pd.factorize codes missing values as -1; left unnormalized, the -1
    poisons the pair-key arithmetic and the kernel scores the WRONG
    unique strings (a 'abc'-vs-None pair read 0.822 instead of 0.0)."""
    return np.array(
        [
            ""
            if v is None or (isinstance(v, float) and v != v)
            else str(v)
            for v in vals
        ],
        dtype=object,
    )


def _batch_apply(left, right, fn) -> np.ndarray:
    """Apply a per-pair kernel over two aligned object arrays, computing
    each distinct pair only once.  None/NaN score as '' (the scalar
    kernels' convention)."""
    import pandas as pd

    left = _norm_str_array(left)
    right = _norm_str_array(right)
    n = len(left)
    out = np.empty(n, dtype=np.float64)
    if n == 0:
        return out
    lcodes, luniq = pd.factorize(left)
    rcodes, runiq = pd.factorize(right)
    width = len(runiq) if len(runiq) else 1
    key = lcodes.astype(np.int64) * width + rcodes
    pair_codes, pair_keys = pd.factorize(key)
    uniq_scores = np.empty(len(pair_keys), dtype=np.float64)
    for k, pk in enumerate(pair_keys):
        li = int(pk) // width
        ri = int(pk) % width
        a = luniq[li]
        b = runiq[ri]
        a = "" if a is None else str(a)
        b = "" if b is None else str(b)
        uniq_scores[k] = fn(a, b)
    return uniq_scores[pair_codes]


def ratio_batch(left, right) -> np.ndarray:
    return _batch_apply(left, right, ratio)


def tsr_presplit(ta: frozenset, tb: frozenset, chars_a: int, chars_b: int,
                 cutoff: float) -> float:
    """token_set_ratio over pre-split token sets with pre-summed character
    counts; avoids sorting/joining the diff strings unless the LCS branch
    is actually needed (all joined-string LENGTHS are derivable from set
    arithmetic: len(" ".join(S)) = Σ|t| + |S| - 1).

    chars_a/chars_b are sum(len(t) for t in set).  Returns 0.0 below
    cutoff (process.cdist semantics)."""
    if not ta or not tb:
        return 0.0
    sect = ta & tb
    n_sect = len(sect)
    n_ab = len(ta) - n_sect
    n_ba = len(tb) - n_sect
    if n_sect and (n_ab == 0 or n_ba == 0):
        return 100.0
    sect_chars = 0
    for t in sect:
        sect_chars += len(t)
    sect_len = sect_chars + n_sect - 1 if n_sect else 0
    ab_len = (chars_a - sect_chars) + n_ab - 1 if n_ab else 0
    ba_len = (chars_b - sect_chars) + n_ba - 1 if n_ba else 0
    one = 1 if sect_len else 0
    sect_ab_len = sect_len + one + ab_len
    sect_ba_len = sect_len + one + ba_len
    sect_ab_ratio = (1.0 - (one + ab_len) / (sect_len + sect_ab_len)) * 100.0
    sect_ba_ratio = (1.0 - (one + ba_len) / (sect_len + sect_ba_len)) * 100.0
    best_sect = sect_ab_ratio if sect_ab_ratio >= sect_ba_ratio else sect_ba_ratio
    lensum = ab_len + ba_len
    bound = 200.0 * (ab_len if ab_len < ba_len else ba_len) / lensum if lensum else 100.0
    if best_sect < cutoff and bound < cutoff:
        return 0.0
    if best_sect >= cutoff and bound <= best_sect:
        return best_sect
    r = ratio(" ".join(sorted(ta - tb)), " ".join(sorted(tb - ta)))
    best = r if r > best_sect else best_sect
    return best if best >= cutoff else 0.0


_POPCNT8 = np.array([bin(x).count("1") for x in range(256)], dtype=np.uint8)

# Per-process scratch arena: the batch kernels run thousands of times per
# Spark task, and numpy temporaries over ~MB arrays hit glibc's mmap path
# every call — at 32 concurrent workers the page-fault/TLB churn is a real
# scaling tax.  Buffers are grow-only, keyed by (slot, dtype), reused
# across calls; slots are named so two live uses never alias.
_SCRATCH: dict[tuple[str, str], np.ndarray] = {}


def _scratch(slot: str, n: int, dtype) -> np.ndarray:
    key = (slot, np.dtype(dtype).str)
    buf = _SCRATCH.get(key)
    if buf is None or buf.size < n:
        cap = 1 << max(10, int(n - 1).bit_length())
        buf = np.empty(cap, dtype=dtype)
        _SCRATCH[key] = buf
    return buf[:n]


def _char_count_rows(strs: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Per-row ascii char histograms [n, 128] + validity mask (non-ascii
    rows are marked invalid so callers skip bound-based pruning on them).
    One flat bincount over the concatenated bytes instead of a per-string
    numpy round-trip — the per-call fixed cost made the histogram as
    expensive as the LCS it was meant to prune."""
    n = len(strs)
    valid = np.ones(n, dtype=bool)
    bufs: list[bytes] = []
    rows: list[int] = []
    lens: list[int] = []
    for i, s in enumerate(strs):
        if not s:
            continue
        if not s.isascii():
            valid[i] = False
            continue
        b = s.encode()
        bufs.append(b)
        rows.append(i)
        lens.append(len(b))
    if not bufs:
        return np.zeros((n, 128), dtype=np.int32), valid
    arr = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    row_ids = np.repeat(np.array(rows, dtype=np.int64),
                        np.array(lens, dtype=np.int64))
    flat = row_ids * 128 + arr
    out = np.bincount(flat, minlength=n * 128).astype(np.int32)
    return out.reshape(n, 128), valid


def _lcs_lane(
    entries: list[tuple[int, str]],
    b_strs: list[str],
    dtype,
    lane: str,
    out: np.ndarray,
) -> None:
    """One bit-width lane of the vectorized LCS (see _lcs_batch): all left
    strings in `entries` fit the lane's word size.  The inner loop is
    allocation-free (named scratch buffers, in-place ufuncs) and reads the
    per-position codes from a TRANSPOSED (maxlen, n_pairs) layout so each
    step streams one contiguous row instead of a strided column — at 32
    concurrent workers the strided gather was pure cache-line waste."""
    groups: dict[str, int] = {}
    ks: list[int] = []
    bids: list[int] = []
    for k, a in entries:
        bid = groups.setdefault(a, len(groups))
        ks.append(k)
        bids.append(bid)
    uniq_a = list(groups)
    tables = np.zeros((len(uniq_a), 256), dtype=dtype)
    masks_a = np.zeros(len(uniq_a), dtype=dtype)
    for bi, a in enumerate(uniq_a):
        acc = [0] * 256
        for pos, ch in enumerate(a):
            acc[ord(ch)] |= 1 << pos
        nz = [c for c in range(256) if acc[c]]
        tables[bi, nz] = [acc[c] for c in nz]
        masks_a[bi] = dtype((1 << len(a)) - 1)
    n = len(ks)
    ks_arr = np.array(ks, dtype=np.int64)
    bid_arr = np.array(bids, dtype=np.int64)
    lbs = np.array([len(b_strs[k]) for k in ks], dtype=np.int64)
    order = np.argsort(-lbs, kind="stable")
    ks_arr, bid_arr, lbs = ks_arr[order], bid_arr[order], lbs[order]
    maxlen = int(lbs[0])
    # encode each DISTINCT right string once (disjoint-token pairs reuse
    # the same full join across many left rows), then row-gather
    b_groups: dict[str, int] = {}
    b_ids = np.empty(n, dtype=np.int64)
    for row_idx, k in enumerate(ks_arr):
        b_ids[row_idx] = b_groups.setdefault(b_strs[int(k)], len(b_groups))
    codes_u = np.zeros((len(b_groups), maxlen), dtype=np.uint8)
    for b, ub in b_groups.items():
        codes_u[ub, : len(b)] = np.frombuffer(
            b.encode("latin-1"), dtype=np.uint8
        )
    codes_t = np.ascontiguousarray(codes_u[b_ids].T)  # (maxlen, n)
    flat_tables = tables.reshape(-1)
    base = bid_arr * 256
    masks = np.take(masks_a, bid_arr)
    st = _scratch(f"lcs_st_{lane}", n, dtype)
    np.copyto(st, masks)
    m = _scratch(f"lcs_m_{lane}", n, dtype)
    u = _scratch(f"lcs_u_{lane}", n, dtype)
    t1 = _scratch(f"lcs_t1_{lane}", n, dtype)
    t2 = _scratch(f"lcs_t2_{lane}", n, dtype)
    idx = _scratch(f"lcs_idx_{lane}", n, np.int64)
    neg_lbs = -lbs  # ascending; active pairs (lb > pos) form a prefix
    for pos in range(maxlen):
        n_act = int(np.searchsorted(neg_lbs, -pos, side="left"))
        if n_act == 0:
            break
        sl = slice(0, n_act)
        np.add(base[sl], codes_t[pos, sl], out=idx[sl])
        np.take(flat_tables, idx[sl], out=m[sl])
        np.bitwise_and(st[sl], m[sl], out=u[sl])
        np.add(st[sl], u[sl], out=t1[sl])
        np.subtract(st[sl], u[sl], out=t2[sl])
        np.bitwise_or(t1[sl], t2[sl], out=t1[sl])
        np.bitwise_and(t1[sl], masks[sl], out=st[sl])
    la_vec = np.array([len(uniq_a[b]) for b in bid_arr], dtype=np.float64)
    pc = _POPCNT8[st.view(np.uint8).reshape(n, -1)].sum(axis=1)
    out[ks_arr] = la_vec - pc


def _lcs_batch(a_strs: list[str], b_strs: list[str]) -> np.ndarray:
    """LCS lengths for aligned string pairs, vectorized.

    Hyyrö's bit-parallel LCS state is one machine word per pair, so the
    whole batch advances in lockstep as numpy arrays: per character
    position, one contiguous flat-table gather + five in-place elementwise
    ops over every still-active pair.  Pairs are sorted by right-string
    length so the active set is always a prefix.  Two lanes by left
    length: uint32 (≤31 chars — the common case for address diff strings,
    half the state/mask/match traffic) and uint64 (≤63).  Longer or
    non-ascii left strings fall back to the scalar bigint kernel.
    (st + u) cannot wrap: st < 2^(la) ≤ 2^31 (resp. 2^63) and u ≤ st, so
    the carry stays inside the lane word; bits above la are masked off."""
    n = len(a_strs)
    out = np.zeros(n, dtype=np.float64)
    lane32: list[tuple[int, str]] = []
    lane64: list[tuple[int, str]] = []
    for k, a in enumerate(a_strs):
        la = len(a)
        if la == 0 or len(b_strs[k]) == 0:
            continue  # lcs = 0
        if la > 63 or not a.isascii() or not b_strs[k].isascii():
            out[k] = _lcs_len(a, b_strs[k])
            continue
        (lane32 if la <= 31 else lane64).append((k, a))
    if lane32:
        _lcs_lane(lane32, b_strs, np.uint32, "32", out)
    if lane64:
        _lcs_lane(lane64, b_strs, np.uint64, "64", out)
    return out


# Largest joined-token-string length the int32 matrix char bound can hold
# without the common*200 step wrapping; longer rows fall to the exact LCS.
# Module-level so tests can lower it to exercise the fallback routing.
_I32_SAFE_CHARS = (2**31 - 1) // 200


def cross_token_set_scores(
    left_tokens: list, right_tokens: list, cutoff: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized cross-product token_set_ratio for one block (the cdist
    kernel).  Inputs are per-row token collections; returns (i, j, score)
    for every pair scoring >= cutoff.

    Strategy: all joined-string lengths in token_set_ratio derive from set
    arithmetic, so the full nl x nr decision matrix is computed with NumPy:
      * per-token inverted index → scatter-add intersection counts C and
        intersection char-sums CH (one nl x nr matrix pass per token)
      * diff lengths / sect ratios / cutoff bounds as matrix arithmetic
      * only the rare pairs whose bound straddles the cutoff fall back to
        the per-pair LCS (ratio of sorted diff strings)
    Exactly matches tsr_presplit / rapidfuzz token_set_ratio semantics
    (tests/test_kernels.py::test_cross_scores_match_scalar_adversarial).
    """
    nl = len(left_tokens)
    nr = len(right_tokens)
    if nl == 0 or nr == 0:
        return (np.empty(0, np.int64), np.empty(0, np.int64),
                np.empty(0, np.float64))
    lsets = [frozenset(t) for t in left_tokens]
    rsets = [frozenset(t) for t in right_tokens]
    na = np.array([len(t) for t in lsets], dtype=np.int32)
    nb = np.array([len(t) for t in rsets], dtype=np.int32)
    chars_a = np.array([sum(map(len, t)) for t in lsets], dtype=np.int32)
    chars_b = np.array([sum(map(len, t)) for t in rsets], dtype=np.int32)

    # inverted index over the union vocabulary
    lrows: dict[str, list[int]] = {}
    for i, toks in enumerate(lsets):
        for t in toks:
            lrows.setdefault(t, []).append(i)
    rrows: dict[str, list[int]] = {}
    for j, toks in enumerate(rsets):
        for t in toks:
            rrows.setdefault(t, []).append(j)

    # All (nl, nr) work matrices live in the per-process scratch arena
    # (named slots) and every elementwise step writes in place — the
    # expression form allocated ~15 multi-MB temporaries per call, which
    # at 32 concurrent workers turned into allocator/page-fault
    # contention.  Integer-VALUED matrices (counts, char sums, join
    # lengths) are int32: the stage is DRAM-bandwidth-bound at high
    # concurrency (BENCH/SCALING_RESIDUE.md), so halving their bytes is
    # throughput; exactness is unaffected because every int here is
    # exactly representable in float64 and numpy's true_divide promotes
    # int32 operands to float64 BEFORE dividing — the quotient rounds
    # identically to the old float64-held-integer form.  (Bound: char
    # sums stay < 2^31/200 ≈ 10.7M chars per joined string — orders of
    # magnitude above any address row, and ENFORCED below: rows above
    # the threshold are cleared from the matrix char bound's validity
    # mask and decided by the exact per-pair LCS instead.)  Operation
    # ORDER matches the original
    # expressions so results stay bit-identical (parity tests pin this).
    size = nl * nr

    def mat(slot: str, dtype=np.float64) -> np.ndarray:
        return _scratch(f"cts_{slot}", size, dtype).reshape(nl, nr)

    # C/CH (and score below) are SPARSE-write dense-read: only cells with
    # a token intersection are touched, then the whole matrix is read.
    # Fresh np.zeros keeps untouched cells on the kernel's shared CoW zero
    # page — reads cost (almost) nothing — which a recycled scratch buffer
    # cannot provide (fill(0.0) dirties every page).  Measured: the
    # scratch version cost ~15-20%% at 8/16 threads; the dense
    # intermediates below stay in the arena where reuse only helps.
    C = np.zeros((nl, nr), dtype=np.int32)   # |A ∩ B|
    CH = np.zeros((nl, nr), dtype=np.int32)  # Σ|t| over A ∩ B
    for t, li in lrows.items():
        rj = rrows.get(t)
        if rj is None:
            continue
        ix = np.ix_(li, rj)
        C[ix] += 1
        CH[ix] += len(t)

    nb_mask = _scratch("cts_mask", size, np.bool_).reshape(nl, nr)
    n_ab = mat("nab", np.int32)
    np.subtract(na[:, None], C, out=n_ab)
    n_ba = mat("nba", np.int32)
    np.subtract(nb[None, :], C, out=n_ba)
    has_sect = C > 0
    sect_len = mat("sect", np.int32)  # where(has_sect, (CH + C) - 1, 0)
    np.add(CH, C, out=sect_len)
    sect_len -= 1
    np.copyto(sect_len, 0, where=np.logical_not(has_sect, out=nb_mask))
    ab_len = mat("ab", np.int32)    # where(n_ab>0, ((chars_a-CH)+n_ab)-1, 0)
    np.subtract(chars_a[:, None], CH, out=ab_len)
    ab_len += n_ab
    ab_len -= 1
    np.copyto(ab_len, 0, where=np.less_equal(n_ab, 0, out=nb_mask))
    ba_len = mat("ba", np.int32)
    np.subtract(chars_b[None, :], CH, out=ba_len)
    ba_len += n_ba
    ba_len -= 1
    np.copyto(ba_len, 0, where=np.less_equal(n_ba, 0, out=nb_mask))
    one = mat("one", np.int32)      # (sect_len > 0) as int
    np.copyto(one, np.greater(sect_len, 0, out=nb_mask), casting="unsafe")
    with np.errstate(divide="ignore", invalid="ignore"):
        # (1 - (one + x_len) / ((2*sect_len + one) + x_len)) * 100
        num = mat("num", np.int32)
        den = mat("den", np.int32)
        np.multiply(sect_len, 2, out=den)
        den += one
        den += ab_len
        np.add(one, ab_len, out=num)
        sect_ab_ratio = mat("sabr")
        np.divide(num, den, out=sect_ab_ratio)
        np.subtract(1.0, sect_ab_ratio, out=sect_ab_ratio)
        sect_ab_ratio *= 100.0
        np.multiply(sect_len, 2, out=den)
        den += one
        den += ba_len
        np.add(one, ba_len, out=num)
        sect_ba_ratio = mat("sbbr")
        np.divide(num, den, out=sect_ba_ratio)
        np.subtract(1.0, sect_ba_ratio, out=sect_ba_ratio)
        sect_ba_ratio *= 100.0
    best_sect = mat("best")
    np.maximum(sect_ab_ratio, sect_ba_ratio, out=best_sect)
    lensum = mat("lensum", np.int32)
    np.add(ab_len, ba_len, out=lensum)
    with np.errstate(divide="ignore", invalid="ignore"):
        bound = mat("bound")        # where(lensum>0, 200*min(ab,ba)/lensum, 100)
        bmin = mat("bmin", np.int32)
        np.minimum(ab_len, ba_len, out=bmin)
        bmin *= 200
        np.divide(bmin, lensum, out=bound)
        np.copyto(bound, 100.0, where=np.less_equal(lensum, 0, out=nb_mask))

    score = np.zeros((nl, nr), dtype=np.float64)  # sparse-write (see C/CH)
    subset = has_sect & ((n_ab == 0) | (n_ba == 0))
    score[subset] = 100.0
    # decided by the sect branch without LCS
    sect_wins = (~subset) & (best_sect >= cutoff) & (bound <= best_sect)
    score[sect_wins] = best_sect[sect_wins]
    # undecided: bound >= cutoff and the diff-ratio could exceed best_sect
    undecided = (~subset) & (~sect_wins) & (bound >= cutoff)
    empty_side = (na[:, None] == 0) | (nb[None, :] == 0)
    undecided &= ~empty_side
    if undecided.any():
        ljoin = [" ".join(sorted(t)) for t in lsets]
        rjoin = [" ".join(sorted(t)) for t in rsets]
        # Vectorized char-histogram bound over the WHOLE undecided set,
        # EXACTLY equal to the per-pair bound on the diff strings: tokens
        # carry no spaces (they come from .split()), so for non-space c
        # hist(diff_a)[c] = hist(full_a)[c] − hist(sect)[c], and
        # subtracting the SAME sect histogram from both sides commutes
        # with min — Σ_c≠sp min(hist_diff_a, hist_diff_b)
        #   = Σ_c≠sp min(a_c, b_c) − sect_chars(=CH); separators add
        # min(n_ab, n_ba) − 1.  With the per-pair diff lensum already in
        # the `lensum` matrix, r ≤ 200·tight/lensum — one [nl,nr]
        # min-sum per distinct character decides every ascii pair the
        # LCS could only confirm, without materialising a single diff
        # string.  (For C==0 this reduces to the old disjoint bound.)
        cnt_a, valid_a = _char_count_rows(ljoin)
        cnt_b, valid_b = _char_count_rows(rjoin)
        # the separator identity requires space-FREE tokens (guaranteed
        # on the product path, which tokenizes with .split()); a direct
        # caller passing tokens with internal spaces would get a
        # too-low bound here, so such rows fall through to the exact
        # per-pair LCS instead (same as non-ascii rows)
        valid_a &= np.fromiter(
            (all(" " not in t for t in s) for s in lsets), np.bool_, nl)
        valid_b &= np.fromiter(
            (all(" " not in t for t in s) for s in rsets), np.bool_, nr)
        # int32 headroom guard: the bound computes common*200 in int32, and
        # per-cell common ≤ min(row char count, col char count); a row with
        # > (2^31-1)/200 ≈ 10.7M joined chars could wrap negative and
        # wrongly retire pairs.  Route such rows to the exact LCS instead
        # (same path as non-ascii rows) — never hit on the product path.
        valid_a &= np.fromiter(
            (len(s) <= _I32_SAFE_CHARS for s in ljoin), np.bool_, nl)
        valid_b &= np.fromiter(
            (len(s) <= _I32_SAFE_CHARS for s in rjoin), np.bool_, nr)
        both = (cnt_a.sum(axis=0) > 0) & (cnt_b.sum(axis=0) > 0)
        both[32] = False  # separators accounted via min(n_ab, n_ba) - 1
        common = mat("common", np.int32)
        common.fill(0)
        cm_tmp = mat("cmtmp", np.int32)
        for c in np.nonzero(both)[0]:
            np.minimum(cnt_a[:, c][:, None], cnt_b[:, c][None, :], out=cm_tmp)
            common += cm_tmp
        common -= CH
        np.minimum(n_ab, n_ba, out=cm_tmp)
        cm_tmp -= 1
        common += cm_tmp
        with np.errstate(divide="ignore", invalid="ignore"):
            char_ub = mat("charub")  # where(lensum>0, 200*common/lensum, 100)
            common *= 200
            np.divide(common, lensum, out=char_ub)
            np.copyto(char_ub, 100.0,
                      where=np.less_equal(lensum, 0, out=nb_mask))
        bound_ok = valid_a[:, None] & valid_b[None, :]
        # r ≤ char_ub < cutoff with best_sect < cutoff ⇒ never kept
        retire = (
            undecided & bound_ok & (best_sect < cutoff) & (char_ub < cutoff)
        )
        # r ≤ char_ub ≤ best_sect ⇒ max(r, best_sect) == best_sect
        settle_m = (
            undecided & bound_ok & (best_sect >= cutoff)
            & (char_ub <= best_sect)
        )
        score[settle_m] = best_sect[settle_m]
        undecided &= ~retire
        undecided &= ~settle_m
    if undecided.any():
        # materialise the per-pair diff strings (Python set ops only where
        # the intersection is non-empty; disjoint pairs reuse the joins)
        # for the few pairs the matrix bound could not decide — genuinely
        # cutoff-straddling pairs plus non-ascii rows — dedup identical
        # string pairs, and run the LCS once per distinct pair.
        ui, uj = np.nonzero(undecided)
        c_vals = C[ui, uj]
        n_u = len(ui)
        a_strs: list[str] = []
        b_strs: list[str] = []
        for k in range(n_u):
            i = int(ui[k])
            j = int(uj[k])
            if c_vals[k] == 0:
                a_strs.append(ljoin[i])
                b_strs.append(rjoin[j])
            else:
                ta = lsets[i]
                tb = rsets[j]
                a_strs.append(" ".join(sorted(ta - tb)))
                b_strs.append(" ".join(sorted(tb - ta)))
        import pandas as pd

        acodes, auniq = pd.factorize(np.asarray(a_strs, dtype=object))
        bcodes, buniq = pd.factorize(np.asarray(b_strs, dtype=object))
        pkey = acodes.astype(np.int64) * len(buniq) + bcodes
        pcodes, pkeys = pd.factorize(pkey)
        up_a = (pkeys // len(buniq)).astype(np.int64)
        up_b = (pkeys % len(buniq)).astype(np.int64)
        # float64 lensum per unique pair — the exact value the original
        # per-pair form used (small ints are exact in float64)
        ua_len = np.array([len(s) for s in auniq], dtype=np.int64)
        ub_len = np.array([len(s) for s in buniq], dtype=np.int64)
        up_lensum = (ua_len[up_a] + ub_len[up_b]).astype(np.float64)
        lcs_up = _lcs_batch([auniq[k] for k in up_a],
                            [buniq[k] for k in up_b])
        with np.errstate(divide="ignore", invalid="ignore"):
            r_up = np.where(up_lensum > 0,
                            200.0 * lcs_up / up_lensum, 100.0)
        r = r_up[pcodes]
        s_vals = np.maximum(r, best_sect[ui, uj])
        ok = s_vals >= cutoff
        score[ui[ok], uj[ok]] = s_vals[ok]
    score[empty_side] = 0.0
    keep = score >= cutoff
    il, jr = np.nonzero(keep)
    return il, jr, score[il, jr]


def jaro_winkler_batch(left, right) -> np.ndarray:
    """Aligned-pair JW with per-unique-pair dedup, scored by the lockstep
    lane (bit-exact with the scalar; see jaro_winkler_lockstep).
    None/NaN score as '' — normalized BEFORE factorize (see
    _norm_str_array; factorize's -1 missing code otherwise corrupts the
    pair-key indexing)."""
    import pandas as pd

    left = _norm_str_array(left)
    right = _norm_str_array(right)
    n = len(left)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    lcodes, luniq = pd.factorize(left)
    rcodes, runiq = pd.factorize(right)
    width = len(runiq) if len(runiq) else 1
    key = lcodes.astype(np.int64) * width + rcodes
    pair_codes, pair_keys = pd.factorize(key)
    ua = [luniq[int(pk) // width] for pk in pair_keys]
    ub = [runiq[int(pk) % width] for pk in pair_keys]
    return jaro_winkler_lockstep(ua, ub)[pair_codes]


_ALL64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _jw_encode(strs: list[str], with_tables: bool):
    """Encode unique latin-1 strings (≤64 chars) once: per-string uint8
    code rows, plus (for the right side) 256-entry position-bitmask
    tables for the PM gather."""
    maxl = max((len(s) for s in strs), default=1) or 1
    codes = np.zeros((len(strs), maxl), dtype=np.uint8)
    tables = np.zeros((len(strs), 256), dtype=np.uint64) if with_tables else None
    for u, s in enumerate(strs):
        if not s:
            continue
        codes[u, : len(s)] = np.frombuffer(s.encode("latin-1"), dtype=np.uint8)
        if with_tables:
            acc = [0] * 256
            for pos, ch in enumerate(s):
                acc[ord(ch)] |= 1 << pos
            nz = [c for c in range(256) if acc[c]]
            tables[u, nz] = [acc[c] for c in nz]
    return codes, tables


def _jw_core(
    a_ids: np.ndarray,
    b_ids: np.ndarray,
    la: np.ndarray,
    lb: np.ndarray,
    codes_a: np.ndarray,
    codes_b: np.ndarray,
    tables_b: np.ndarray,
) -> np.ndarray:
    """Lockstep Jaro-Winkler over pairs (a_ids[k], b_ids[k]) that MUST be
    pre-sorted by la descending, with all strings latin-1 and ≤ 64 chars
    (one uint64 word holds a side's position set).  Returns jw per pair,
    bit-exact with jaro_winkler_similarity (same integer match/
    transposition counts by construction, same FP op order).

    Phase A (matching) walks s1 positions i in lockstep: per pair the
    candidates are PM[s1[i]] & avail & window(i), and the GREEDY lowest
    one (cand & -cand) is claimed — the scalar loop's
    first-free-j-in-window.  The la-desc sort keeps the active set a
    shrinking prefix.

    Phase B (transpositions) peels the lowest set bit off both matched
    masks in lockstep — the k-th peeled bits are the k-th matched
    characters in order, matching the scalar flag-walk; pairs re-sort by
    match count so this loop's active set is a prefix too."""
    n = len(a_ids)
    maxla = codes_a.shape[1]
    maxlb = codes_b.shape[1]
    flat_tables_b = tables_b.reshape(-1)
    flat_codes_a = codes_a.reshape(-1)
    flat_codes_b = codes_b.reshape(-1)
    codes_a_t = np.ascontiguousarray(codes_a[a_ids].T)  # (maxla, n)
    base_b = b_ids * 256

    srange = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    avail = np.where(
        lb >= 64, _ALL64,
        (np.uint64(1) << np.minimum(lb, 63).astype(np.uint64)) - np.uint64(1),
    )
    m1 = np.zeros(n, dtype=np.uint64)
    m2 = np.zeros(n, dtype=np.uint64)
    mcount = np.zeros(n, dtype=np.int64)
    neg_la = -la  # ascending; active pairs (la > i) form a prefix
    one64 = np.uint64(1)
    n_prev = n
    for i in range(int(la[0]) if n else 0):
        n_act = int(np.searchsorted(neg_la, -i, side="left"))
        if n_act == 0:
            break
        if n_act < n_prev:
            n_prev = n_act
        sl = slice(0, n_act)
        pm = flat_tables_b[base_b[sl] + codes_a_t[i, sl]]
        lo = np.maximum(i - srange[sl], 0)
        hi = np.minimum(lb[sl], i + srange[sl] + 1)
        mask_hi = (one64 << np.minimum(hi, 63).astype(np.uint64)) - one64
        mask_hi = np.where(hi >= 64, _ALL64, mask_hi)
        mask_lo = (one64 << lo.astype(np.uint64)) - one64
        cand = pm & avail[sl] & mask_hi & ~mask_lo
        jbit = cand & (~cand + one64)
        found = cand != 0
        avail[sl] ^= jbit
        m2[sl] |= jbit
        m1[sl] |= found.astype(np.uint64) << np.uint64(i)
        mcount[sl] += found

    # Phase B active set is governed by mcount, not la — re-sort so it
    # stays a prefix (total element-ops Σ mcount instead of n·max(mcount))
    perm = np.argsort(-mcount, kind="stable")
    a_ids_p = a_ids[perm]
    b_ids_p = b_ids[perm]
    mc_p = mcount[perm]
    t = np.zeros(n, dtype=np.int64)
    mm1 = m1[perm]
    mm2 = m2[perm]
    neg_mc = -mc_p
    gather_a = a_ids_p * maxla
    gather_b = b_ids_p * maxlb
    it = 0
    with np.errstate(divide="ignore"):
        while True:
            n_act = int(np.searchsorted(neg_mc, -it, side="left"))
            if n_act == 0:
                break
            sl = slice(0, n_act)
            bit1 = mm1[sl] & (~mm1[sl] + one64)
            bit2 = mm2[sl] & (~mm2[sl] + one64)
            mm1[sl] ^= bit1
            mm2[sl] ^= bit2
            pos1 = np.log2(bit1.astype(np.float64)).astype(np.int64)
            pos2 = np.log2(bit2.astype(np.float64)).astype(np.int64)
            ch1 = flat_codes_a[gather_a[sl] + pos1]
            ch2 = flat_codes_b[gather_b[sl] + pos2]
            t[sl] += ch1 != ch2
            it += 1

    m = mc_p.astype(np.float64)
    half_t = (t // 2).astype(np.float64)
    laf = la[perm].astype(np.float64)
    lbf = lb[perm].astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        # same FP op order as the scalar: (m/l1 + m/l2 + (m - t2)/m) / 3
        jaro = (m / laf + m / lbf + (m - half_t) / m) / 3.0
    jaro = np.where(mc_p > 0, jaro, 0.0)

    prefix = np.zeros(n, dtype=np.int64)
    run = np.ones(n, dtype=bool)
    la_p = la[perm]
    lb_p = lb[perm]
    for p in range(min(4, maxla, maxlb)):
        # zero-padded codes beyond a string's length must not count as
        # equal — gate on p < len on BOTH sides (the scalar zips,
        # stopping at the shorter string)
        run = run & (p < la_p) & (p < lb_p) & (
            flat_codes_a[gather_a + p] == flat_codes_b[gather_b + p]
        )
        prefix += run
    jw_p = np.where(jaro > 0.7, jaro + 0.1 * prefix * (1.0 - jaro), jaro)
    jw = np.empty(n, dtype=np.float64)
    jw[perm] = jw_p
    return jw


def _jw_laneable(s: str) -> bool:
    if len(s) > 64:
        return False
    try:
        s.encode("latin-1")
    except UnicodeEncodeError:
        return False
    return True


def jaro_winkler_grid(lu, ru) -> np.ndarray:
    """Jaro-Winkler over the FULL cross grid of two unique-value lists —
    the field-pass inner kernel (operators/fieldmatch.py accumulate).
    Returns a (len(lu), len(ru)) float64 matrix, bit-exact with the
    scalar jaro_winkler_similarity per cell.

    Built for factorized grids: strings encode once per UNIQUE value
    (not per pair), pair ids are repeat/tile index arithmetic, and the
    row-major layout sorted by left length IS the la-desc order the
    lockstep core needs — no per-pair grouping or argsort.  Cells with
    an empty side are 0 by definition; rows/columns holding >64-char or
    non-latin-1 strings fall back to the scalar kernel cell-wise."""
    nl, nr = len(lu), len(ru)
    a_norm = ["" if v is None else str(v) for v in lu]
    b_norm = ["" if v is None else str(v) for v in ru]
    out = np.zeros((nl, nr), dtype=np.float64)
    if nl == 0 or nr == 0:
        return out
    if nl * nr < 64:
        for i, a in enumerate(a_norm):
            for j, b in enumerate(b_norm):
                if a and b:
                    out[i, j] = jaro_winkler_similarity(a, b)
        return out
    rows_ok = [i for i, a in enumerate(a_norm) if a and _jw_laneable(a)]
    cols_ok = [j for j, b in enumerate(b_norm) if b and _jw_laneable(b)]
    rows_bad = [i for i, a in enumerate(a_norm) if a and not _jw_laneable(a)]
    cols_bad = [j for j, b in enumerate(b_norm) if b and not _jw_laneable(b)]
    for i in rows_bad:  # scalar fallback: bad row × every non-empty col
        a = a_norm[i]
        for j, b in enumerate(b_norm):
            if b:
                out[i, j] = jaro_winkler_similarity(a, b)
    for j in cols_bad:  # bad col × remaining good rows
        b = b_norm[j]
        for i in rows_ok:
            out[i, j] = jaro_winkler_similarity(a_norm[i], b)
    if not rows_ok or not cols_ok:
        return out
    a_strs = [a_norm[i] for i in rows_ok]
    b_strs = [b_norm[j] for j in cols_ok]
    la_u = np.array([len(s) for s in a_strs], dtype=np.int64)
    lb_u = np.array([len(s) for s in b_strs], dtype=np.int64)
    row_order = np.argsort(-la_u, kind="stable")
    codes_a, _ = _jw_encode([a_strs[int(r)] for r in row_order], False)
    codes_b, tables_b = _jw_encode(b_strs, True)
    n_r, n_c = len(rows_ok), len(cols_ok)
    a_ids = np.repeat(np.arange(n_r, dtype=np.int64), n_c)
    b_ids = np.tile(np.arange(n_c, dtype=np.int64), n_r)
    la = np.repeat(la_u[row_order], n_c)
    lb = np.tile(lb_u, n_r)
    jw = _jw_core(a_ids, b_ids, la, lb, codes_a, codes_b, tables_b)
    rows_arr = np.array(rows_ok, dtype=np.int64)[row_order]
    cols_arr = np.array(cols_ok, dtype=np.int64)
    flat_idx = (rows_arr[:, None] * nr + cols_arr[None, :]).ravel()
    out.ravel()[flat_idx] = jw
    return out


def jaro_winkler_lockstep(left, right) -> np.ndarray:
    """Vectorized Jaro-Winkler over ALIGNED string pairs: bit-exact with
    jaro_winkler_similarity (parity-pinned in tests/test_kernels.py).
    Pairs with latin-1 strings ≤ 64 chars run in the uint64 lockstep
    lane (_jw_core); longer/non-latin-1 pairs fall back to the scalar.
    Small batches (< 32 pairs) skip lane setup entirely."""
    n = len(left)
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return out
    a_norm = ["" if v is None else str(v) for v in left]
    b_norm = ["" if v is None else str(v) for v in right]
    if n < 32:
        for k in range(n):
            out[k] = jaro_winkler_similarity(a_norm[k], b_norm[k])
        return out
    lane: list[int] = []
    for k in range(n):
        a = a_norm[k]
        b = b_norm[k]
        if not a or not b:
            continue  # jaro 0, no boost
        if a == b:
            out[k] = 1.0  # m=len, t=0 → jaro 1.0; boost adds 0.0
            continue
        if not _jw_laneable(a) or not _jw_laneable(b):
            out[k] = jaro_winkler_similarity(a, b)
            continue
        lane.append(k)
    if not lane:
        return out
    a_groups: dict[str, int] = {}
    b_groups: dict[str, int] = {}
    nlane = len(lane)
    a_ids = np.empty(nlane, dtype=np.int64)
    b_ids = np.empty(nlane, dtype=np.int64)
    la = np.empty(nlane, dtype=np.int64)
    lb = np.empty(nlane, dtype=np.int64)
    for row, k in enumerate(lane):
        a = a_norm[k]
        b = b_norm[k]
        a_ids[row] = a_groups.setdefault(a, len(a_groups))
        b_ids[row] = b_groups.setdefault(b, len(b_groups))
        la[row] = len(a)
        lb[row] = len(b)
    order = np.argsort(-la, kind="stable")
    codes_a, _ = _jw_encode(list(a_groups), False)
    codes_b, tables_b = _jw_encode(list(b_groups), True)
    jw = _jw_core(a_ids[order], b_ids[order], la[order], lb[order],
                  codes_a, codes_b, tables_b)
    out[np.array(lane, dtype=np.int64)[order]] = jw
    return out


def _lev_core(
    a_ids: np.ndarray,
    la: np.ndarray,
    lb: np.ndarray,
    tables_a: np.ndarray,
    codes_b_t: np.ndarray,
) -> np.ndarray:
    """Lockstep Myers (1999) bit-parallel Levenshtein over pairs
    (a_ids[k] = pattern row, codes_b_t[:, k] = text codes), pre-sorted by
    lb DESCENDING so the active set is always a prefix.  Patterns must be
    latin-1 and 1..64 chars (one uint64 word holds the VP/VN state); text
    length is unbounded (it is the streamed dimension).

    Per text character, one contiguous flat-table gather + ~13 in-place
    elementwise ops over every still-active pair — the same lockstep shape
    as _lcs_lane/_jw_core.  The word arithmetic needs no masking: carries
    above bit la-1 land in bits the recurrence never reads (only bit la-1
    is tested, and shifts move garbage upward), and numpy uint64 addition
    wraps exactly like the C implementations for la = 64."""
    n = len(a_ids)
    one64 = np.uint64(1)
    flat_tables = tables_a.reshape(-1)
    base = a_ids * 256
    # VP starts as the la low bits set; score starts at la; only bit la-1
    # of HP/HN feeds the score
    la_u = la.astype(np.uint64)
    vp_init = np.where(
        la >= 64, _ALL64, (one64 << np.minimum(la_u, np.uint64(63))) - one64
    )
    hibit = one64 << (la_u - one64)
    vp = _scratch("lev_vp", n, np.uint64)
    np.copyto(vp, vp_init)
    vn = _scratch("lev_vn", n, np.uint64)
    vn[:] = 0
    d0 = _scratch("lev_d0", n, np.uint64)
    hp = _scratch("lev_hp", n, np.uint64)
    hn = _scratch("lev_hn", n, np.uint64)
    eq = _scratch("lev_eq", n, np.uint64)
    idx = _scratch("lev_idx", n, np.int64)
    nz = _scratch("lev_nz", n, np.uint64)
    score = la.astype(np.int64).copy()
    neg_lb = -lb  # ascending; active pairs (lb > pos) form a prefix
    maxlb = int(lb[0]) if n else 0
    for pos in range(maxlb):
        n_act = int(np.searchsorted(neg_lb, -pos, side="left"))
        if n_act == 0:
            break
        sl = slice(0, n_act)
        np.add(base[sl], codes_b_t[pos, sl], out=idx[sl])
        np.take(flat_tables, idx[sl], out=eq[sl])
        # D0 = (((eq & VP) + VP) ^ VP) | eq | VN
        np.bitwise_and(eq[sl], vp[sl], out=d0[sl])
        np.add(d0[sl], vp[sl], out=d0[sl])
        np.bitwise_xor(d0[sl], vp[sl], out=d0[sl])
        np.bitwise_or(d0[sl], eq[sl], out=d0[sl])
        np.bitwise_or(d0[sl], vn[sl], out=d0[sl])
        # HP = VN | ~(D0 | VP);  HN = D0 & VP
        np.bitwise_or(d0[sl], vp[sl], out=hp[sl])
        np.invert(hp[sl], out=hp[sl])
        np.bitwise_or(hp[sl], vn[sl], out=hp[sl])
        np.bitwise_and(d0[sl], vp[sl], out=hn[sl])
        # score ± the pattern's top bit of HP/HN
        np.bitwise_and(hp[sl], hibit[sl], out=nz[sl])
        score[sl] += nz[sl] != 0
        np.bitwise_and(hn[sl], hibit[sl], out=nz[sl])
        score[sl] -= nz[sl] != 0
        # VP = (HN << 1) | ~(D0 | ((HP << 1) | 1));  VN = ((HP << 1) | 1) & D0
        np.left_shift(hp[sl], one64, out=hp[sl])
        np.bitwise_or(hp[sl], one64, out=hp[sl])
        np.left_shift(hn[sl], one64, out=hn[sl])
        np.bitwise_or(d0[sl], hp[sl], out=vp[sl])
        np.invert(vp[sl], out=vp[sl])
        np.bitwise_or(vp[sl], hn[sl], out=vp[sl])
        np.bitwise_and(hp[sl], d0[sl], out=vn[sl])
    return score


def _lev_laneable(s: str) -> bool:
    try:
        s.encode("latin-1")
    except UnicodeEncodeError:
        return False
    return True


def levenshtein_grid(lu, ru) -> np.ndarray:
    """Levenshtein DISTANCES over the full cross grid of two unique-value
    lists — the field-pass inner kernel for both-sides-varying fields
    (street-blocked passes compare the postcode column, which varies on
    both sides inside a big-city street block; the interpreted scalar DP
    there was O(distinct²) Python — VERDICT r4 'What's wrong #2').
    Returns a (len(lu), len(ru)) int64 matrix, exact per cell vs the
    scalar `levenshtein`.

    Left strings are the Myers patterns (must be ≤64 chars latin-1 for
    the lane; longer/non-latin-1 rows fall back to the scalar kernel
    cell-wise).  Right strings are the streamed texts — any length, but
    non-latin-1 columns also fall back (codes are uint8).  Pairs run
    column-major with columns sorted by length descending so the lockstep
    active set is a prefix."""
    nl, nr = len(lu), len(ru)
    a_norm = ["" if v is None else str(v) for v in lu]
    b_norm = ["" if v is None else str(v) for v in ru]
    out = np.zeros((nl, nr), dtype=np.int64)
    if nl == 0 or nr == 0:
        return out
    if nl * nr < 64:
        for i, a in enumerate(a_norm):
            for j, b in enumerate(b_norm):
                out[i, j] = levenshtein(a, b)
        return out
    la_all = np.array([len(a) for a in a_norm], dtype=np.int64)
    lb_all = np.array([len(b) for b in b_norm], dtype=np.int64)
    rows_ok, rows_bad, rows_empty = [], [], []
    for i, a in enumerate(a_norm):
        if not a:
            rows_empty.append(i)
        elif len(a) <= 64 and _lev_laneable(a):
            rows_ok.append(i)
        else:
            rows_bad.append(i)
    cols_ok = [j for j, b in enumerate(b_norm) if _lev_laneable(b)]
    cols_bad = [j for j, b in enumerate(b_norm) if not _lev_laneable(b)]
    for i in rows_empty:  # d('', b) = len(b)
        out[i, :] = lb_all
    for i in rows_bad:
        a = a_norm[i]
        for j, b in enumerate(b_norm):
            out[i, j] = levenshtein(a, b)
    for j in cols_bad:
        b = b_norm[j]
        for i in rows_ok:
            out[i, j] = levenshtein(a_norm[i], b)
    if not rows_ok or not cols_ok:
        return out
    a_strs = [a_norm[i] for i in rows_ok]
    b_strs = [b_norm[j] for j in cols_ok]
    # encode patterns once per unique row: 256-entry position bitmasks
    tables_a = np.zeros((len(a_strs), 256), dtype=np.uint64)
    for u, s in enumerate(a_strs):
        acc = [0] * 256
        for p, ch in enumerate(s):
            acc[ord(ch)] |= 1 << p
        for c in range(256):
            if acc[c]:
                tables_a[u, c] = acc[c]
    lb_u = np.array([len(b) for b in b_strs], dtype=np.int64)
    col_order = np.argsort(-lb_u, kind="stable")
    b_sorted = [b_strs[int(c)] for c in col_order]
    maxlb = len(b_sorted[0]) if b_sorted and b_sorted[0] else 0
    if maxlb == 0:  # every right string empty: d(a, '') = len(a)
        for j in cols_ok:
            for k, i in enumerate(rows_ok):
                out[i, j] = la_all[i]
        return out
    n_r, n_c = len(rows_ok), len(cols_ok)
    # column-major pair layout keeps lb non-increasing across the batch
    a_ids = np.tile(np.arange(n_r, dtype=np.int64), n_c)
    la = np.tile(la_all[np.array(rows_ok, dtype=np.int64)], n_c)
    lb = np.repeat(lb_u[col_order], n_r)
    codes_u = np.zeros((len(b_sorted), maxlb), dtype=np.uint8)
    for u, b in enumerate(b_sorted):
        if b:
            codes_u[u, : len(b)] = np.frombuffer(
                b.encode("latin-1"), dtype=np.uint8
            )
    codes_b_t = np.ascontiguousarray(
        np.repeat(codes_u, n_r, axis=0).T
    )  # (maxlb, n_pairs)
    d = _lev_core(a_ids, la, lb, tables_a, codes_b_t)
    rows_arr = np.array(rows_ok, dtype=np.int64)
    cols_arr = np.array(cols_ok, dtype=np.int64)[col_order]
    # scatter: pair k = (row a_ids[k], sorted-col k // n_r)
    out.ravel()[rows_arr[a_ids] * nr + np.repeat(cols_arr, n_r)] = d
    return out


def levenshtein_sim_grid(lu, ru) -> np.ndarray:
    """Normalized Levenshtein SIMILARITY grid: 1 - d/max(len), 0.0 when
    both strings are empty — the exact FP expression of the field pass's
    scalar `_lev_sim` (operators/fieldmatch.py), vectorized."""
    d = levenshtein_grid(lu, ru).astype(np.float64)
    la = np.array([0 if v is None else len(str(v)) for v in lu],
                  dtype=np.float64)
    lb = np.array([0 if v is None else len(str(v)) for v in ru],
                  dtype=np.float64)
    m = np.maximum(la[:, None], lb[None, :])
    with np.errstate(divide="ignore", invalid="ignore"):
        sim = 1.0 - d / m
    return np.where(m > 0, sim, 0.0)
