"""Property + golden tests for the string-similarity kernels.

The bit-parallel LCS is checked against a classic O(n*m) DP; Jaro-Winkler
and Levenshtein are checked against DuckDB's built-in implementations on a
string corpus (both derive from the same published algorithms the
reference's jellyfish dependency implements)."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from address_matcher_spark import kernels as K

ALPHA = "ab c1"  # tiny alphabet maximizes collisions / edge cases


def lcs_dp(a: str, b: str) -> int:
    m, n = len(a), len(b)
    dp = [[0] * (n + 1) for _ in range(m + 1)]
    for i in range(1, m + 1):
        for j in range(1, n + 1):
            if a[i - 1] == b[j - 1]:
                dp[i][j] = dp[i - 1][j - 1] + 1
            else:
                dp[i][j] = max(dp[i - 1][j], dp[i][j - 1])
    return dp[m][n]


@settings(max_examples=300, deadline=None)
@given(st.text(ALPHA, max_size=40), st.text(ALPHA, max_size=40))
def test_lcs_bitparallel_matches_dp(a, b):
    assert K._lcs_len(a, b) == lcs_dp(a, b)


@settings(max_examples=200, deadline=None)
@given(st.text(ALPHA, max_size=30), st.text(ALPHA, max_size=30))
def test_ratio_bounds_and_symmetry(a, b):
    r = K.ratio(a, b)
    assert 0.0 <= r <= 100.0
    assert r == pytest.approx(K.ratio(b, a))
    if a == b:
        assert r == 100.0


def test_token_set_ratio_golden():
    # Hand-computed from the published rapidfuzz token_set_ratio algorithm.
    assert K.token_set_ratio("", "") == 0.0
    assert K.token_set_ratio("a", "") == 0.0
    assert K.token_set_ratio("fuzzy was a bear", "fuzzy fuzzy was a bear") == 100.0
    # identical sets, different multiplicity/order
    assert K.token_set_ratio("a b c", "c b a") == 100.0
    # subset with non-empty intersection
    assert K.token_set_ratio("flat 2 maple road", "2 maple road") == 100.0
    # disjoint tokens fall back to plain ratio of sorted diffs
    assert K.token_set_ratio("abcd", "wxyz") == K.ratio("abcd", "wxyz")


def test_token_set_ratio_example_values():
    # Worked example: s1="new york mets", s2="new york yankees"
    # intersect={new,york}, diff_ab={mets}, diff_ba={yankees}
    # sect_len=8, ab=4, ba=7
    # sect_ab_ratio = 1 - 5/(8+13) ; sect_ba_ratio = 1 - 8/(8+16)
    s = K.token_set_ratio("new york mets", "new york yankees")
    sect_ab = (1 - 5 / 21) * 100
    sect_ba = (1 - 8 / 24) * 100
    r = K.ratio("mets", "yankees")
    assert s == pytest.approx(max(r, sect_ab, sect_ba))


def test_token_set_cutoff():
    s = K.token_set_ratio("1 ash road", "2 beech lane")
    assert s < 85
    # the production cross kernel drops pairs below the cutoff
    il, jr, sc = K.cross_token_set_scores(
        [["1", "ash", "road"]], [["2", "beech", "lane"]], 85.0)
    assert len(il) == len(jr) == len(sc) == 0
    il, jr, sc = K.cross_token_set_scores(
        [["flat", "2", "maple", "road"]], [["2", "maple", "road"]], 85.0)
    assert (il.tolist(), jr.tolist(), sc.tolist()) == ([0], [0], [100.0])


CORPUS = [
    "flat 2 maple road",
    "2 maple road",
    "12 high street",
    "basement flat 12 high st",
    "martha house",
    "marhta huose",
    "dixon",
    "dicksonx",
    "jellyfish",
    "smellyfish",
    "",
    "a",
    "ab",
    "duane",
    "dwayne",
    "1 ash park road se54 3hb",
]


def test_jaro_winkler_matches_duckdb():
    con = duckdb.connect()
    for a in CORPUS:
        for b in CORPUS:
            if not a or not b:
                continue  # engines differ on empty-string convention
            expected = con.execute(
                "select jaro_winkler_similarity(?, ?)", [a, b]
            ).fetchone()[0]
            assert K.jaro_winkler_similarity(a, b) == pytest.approx(
                expected, abs=1e-9
            ), (a, b)


def test_jaro_golden():
    assert K.jaro_similarity("martha", "marhta") == pytest.approx(17 / 18)
    assert K.jaro_winkler_similarity("martha", "marhta") == pytest.approx(0.9611111111)
    assert K.jaro_winkler_similarity("dwayne", "duane") == pytest.approx(0.84)


def test_levenshtein_matches_duckdb():
    con = duckdb.connect()
    for a in CORPUS:
        for b in CORPUS:
            expected = con.execute("select levenshtein(?, ?)", [a, b]).fetchone()[0]
            assert K.levenshtein(a, b) == expected, (a, b)


def test_batch_matches_scalar():
    left = np.array(CORPUS * 3, dtype=object)
    rng = np.random.RandomState(42)
    right = np.array([CORPUS[i] for i in rng.randint(0, len(CORPUS), len(left))], dtype=object)
    got = K.jaro_winkler_batch(left, right)
    want = np.array([K.jaro_winkler_similarity(a, b) for a, b in zip(left, right)])
    np.testing.assert_allclose(got, want)


def test_jw_lockstep_matches_scalar_bit_exact():
    """The uint64 lockstep Jaro-Winkler must be BIT-exact with the scalar
    (same integer match/transposition counts, same FP op order) across
    random pairs plus the lane-boundary adversarial set."""
    import random
    import string

    rng = random.Random(42)
    alpha = string.ascii_lowercase[:6] + " 0123456789"

    def rand_str(maxlen):
        return "".join(rng.choice(alpha) for _ in range(rng.randint(0, maxlen)))

    cases = [(rand_str(20), rand_str(20)) for _ in range(2000)]
    cases += [
        ("", ""), ("a", ""), ("", "b"), ("abc", "abc"),
        ("martha", "marhta"), ("dixon", "dicksonx"), ("dwayne", "duane"),
        ("a" * 63, "a" * 63 + "b"), ("a" * 64, "b" * 64),  # word-edge lens
        ("x" * 65, "x" * 64),                              # scalar fallback
        ("ab" * 32, "ba" * 32),                            # transposition-heavy
        ("café", "cafe"), ("日本", "日本語"),                # non-ascii fallback
        ("sw19 7qx", "sw19 7qd"), ("oak road", "oak rd"),
    ]
    for L in (60, 61, 62, 63, 64):
        cases.append(("q" * L, "q" * (L - 1) + "z"))
    got = K.jaro_winkler_lockstep([c[0] for c in cases], [c[1] for c in cases])
    want = np.array([K.jaro_winkler_similarity(a, b) for a, b in cases])
    assert (got == want).all()  # == , not approx: bit-exactness is the contract


def test_jw_grid_matches_scalar_bit_exact():
    """jaro_winkler_grid (the field-pass inner kernel) over a grid mixing
    normal, empty, over-long and non-latin-1 values."""
    import random
    import string

    rng = random.Random(7)
    alpha = string.ascii_lowercase + " "

    def rand_str(maxlen):
        return "".join(rng.choice(alpha) for _ in range(rng.randint(1, maxlen)))

    lu = [rand_str(25) for _ in range(40)] + ["", "z" * 70, "naïve café"]
    ru = [rand_str(25) for _ in range(35)] + ["", "y" * 90, "日本"]
    got = K.jaro_winkler_grid(lu, ru)
    want = np.array([
        [K.jaro_winkler_similarity(a, b) if a and b else 0.0 for b in ru]
        for a in lu
    ])
    assert got.shape == want.shape
    assert (got == want).all()


@given(
    st.lists(st.text(alphabet="ab ", max_size=8), min_size=1, max_size=8),
    st.lists(st.text(alphabet="ab ", max_size=8), min_size=1, max_size=8),
)
@settings(max_examples=50, deadline=None)
def test_jw_grid_property(lu, ru):
    got = K.jaro_winkler_grid(lu, ru)
    for i, a in enumerate(lu):
        for j, b in enumerate(ru):
            want = K.jaro_winkler_similarity(a, b) if a and b else 0.0
            assert got[i, j] == want, (a, b)


def test_levenshtein_grid_matches_scalar_exact():
    """levenshtein_grid (the lockstep Myers lane feeding the street-blocked
    field passes, where the postcode varies on BOTH sides of a block) must
    be exact vs the scalar DP over a grid mixing normal, empty, word-edge,
    over-long and non-latin-1 values."""
    import random
    import string

    rng = random.Random(99)
    alpha = string.ascii_lowercase + " 0123456789"

    def rand_str(lo, hi):
        return "".join(rng.choice(alpha) for _ in range(rng.randint(lo, hi)))

    lu = [rand_str(1, 12) for _ in range(40)] + [
        "", "a" * 63, "a" * 64, "a" * 65, "naïve café", "sw19 7qx",
    ]
    ru = [rand_str(1, 12) for _ in range(35)] + [
        "", "b" * 64, "x" * 120, "日本語", "sw19 7qd",
    ]
    got = K.levenshtein_grid(lu, ru)
    want = np.array([[K.levenshtein(a, b) for b in ru] for a in lu])
    assert got.shape == want.shape
    assert (got == want).all()


def test_levenshtein_sim_grid_matches_field_pass_scalar():
    """levenshtein_sim_grid must reproduce the field pass's _lev_sim
    expression (1 - d/max(len), 0.0 on two empties) bit-for-bit."""
    lu = ["sw19 7qx", "ec1a 1bb", "", " ", "n1 9gu"]
    ru = ["sw19 7qd", "ec1a1bb", "", " ", "n19 gu", "w1a 0ax"]
    got = K.levenshtein_sim_grid(lu, ru)
    for i, a in enumerate(lu):
        for j, b in enumerate(ru):
            m = max(len(a), len(b))
            want = 0.0 if m == 0 else 1.0 - K.levenshtein(a, b) / m
            assert got[i, j] == want, (a, b)


@given(
    st.lists(st.text(alphabet="abc1 ", max_size=10), min_size=1, max_size=9),
    st.lists(st.text(alphabet="abc1 ", max_size=10), min_size=1, max_size=9),
)
@settings(max_examples=50, deadline=None)
def test_levenshtein_grid_property(lu, ru):
    got = K.levenshtein_grid(lu, ru)
    for i, a in enumerate(lu):
        for j, b in enumerate(ru):
            assert got[i, j] == K.levenshtein(a, b), (a, b)


def test_jw_batch_and_batch_apply_handle_missing():
    """None/NaN normalize to '' BEFORE factorization — factorize's -1
    missing code otherwise corrupts the pair-key indexing (a 'abc'-vs-None
    pair scored 0.822 instead of 0.0)."""
    left = ["abc", None, float("nan"), "abc", None]
    right = [None, "abc", "abc", "abc", None]
    got = K.jaro_winkler_batch(left, right)
    want = [0.0, 0.0, 0.0, 1.0, 0.0]
    assert got.tolist() == want
    got_r = K.ratio_batch(left, right)
    assert got_r.tolist() == [0.0, 0.0, 0.0, 100.0, 100.0]


def test_cross_scores_match_scalar_adversarial():
    """The matrix kernel (cross_token_set_scores) must be BIT-exact with
    the scalar per-pair spec (tsr_presplit) over every (i, j) cell —
    including cutoff-boundary pairs, subset pairs, disjoint-with-shared-
    chars pairs (the char-histogram retire path), empty sides, and
    non-ascii tokens (scalar LCS fallback inside _lcs_batch).  Also pins
    the int32 decision-matrix narrowing: integer-valued counts held in
    int32 divide to the same float64 quotients as the float64-held form."""
    import random

    rng = random.Random(20260817)
    vocab = ["flat", "12", "high", "street", "maple", "road", "fÅ‚at",
             "apartment", "b", "xy", "zq", "court", "house", "2a", "n0"]
    rows_l: list[list[str]] = []
    rows_r: list[list[str]] = []
    # random rows
    for _ in range(60):
        rows_l.append(rng.sample(vocab, rng.randint(0, 6)))
        rows_r.append(rng.sample(vocab, rng.randint(0, 6)))
    # adversarial shapes
    rows_l += [[], ["only"], ["a", "b", "c"], ["aaaa", "bbbb"],
               ["zz" * 40], ["x" * 64, "q"]]
    rows_r += [["only"], [], ["c", "b", "a"], ["aaab", "bbba"],
               ["zz" * 40 + "y"], ["x" * 63, "q"]]
    for cutoff in (0.0, 50.0, 85.0, 99.0):
        il, jr, sc = K.cross_token_set_scores(rows_l, rows_r, cutoff)
        got = {}
        for i, j, s in zip(il.tolist(), jr.tolist(), sc.tolist()):
            got[(i, j)] = s
        for i, ta in enumerate(rows_l):
            fa = frozenset(ta)
            ca = sum(map(len, fa))
            for j, tb in enumerate(rows_r):
                fb = frozenset(tb)
                want = K.tsr_presplit(fa, fb, ca, sum(map(len, fb)), cutoff)
                if want >= cutoff:
                    assert got.get((i, j)) == want, (i, j, ta, tb, cutoff)
                else:
                    assert (i, j) not in got, (i, j, ta, tb, cutoff)


def test_cross_scores_i32_char_guard_routes_to_lcs(monkeypatch):
    """Rows whose joined token string exceeds the int32 char-bound budget
    (common*200 would wrap) must be cleared from the matrix bound's
    validity mask and decided by the exact LCS.  The real threshold
    (~10.7M chars) is impractical to exercise directly, so lower it and
    check parity with the scalar spec on rows that straddle it."""
    monkeypatch.setattr(K, "_I32_SAFE_CHARS", 12)
    lt = [["abcdefgh", "ijklmnop"],       # 17 joined chars: over budget
          ["abc", "def"],                  # 7 joined chars: under budget
          ["qqqqqqqqqqqqqqqq"]]            # 16 chars, disjoint vs right
    rt = [["abcdefgh", "ijklmnoq"],        # over budget
          ["abd", "def"],
          ["qqqqqqqqqqqqqqqr"]]
    for cutoff in (0.0, 50.0, 85.0):
        il, jr, sc = K.cross_token_set_scores(lt, rt, cutoff)
        got = {(i, j): s for i, j, s in zip(il.tolist(), jr.tolist(),
                                            sc.tolist())}
        for i, ta in enumerate(lt):
            fa = frozenset(ta)
            ca = sum(map(len, fa))
            for j, tb in enumerate(rt):
                fb = frozenset(tb)
                want = K.tsr_presplit(fa, fb, ca, sum(map(len, fb)), cutoff)
                if want >= cutoff:
                    assert got.get((i, j)) == want, (i, j, cutoff)
                else:
                    assert (i, j) not in got, (i, j, cutoff)


def test_cross_scores_internal_space_tokens():
    """Tokens containing a literal space break the matrix bound's
    separator identity (min(n_ab, n_ba) - 1 assumes space-free tokens,
    which .split() guarantees on the product path) — such rows must fall
    through to the exact per-pair LCS, not a silently-low bound."""
    lt = [["12 high", "street"], ["flat 2", "maple", "road"]]
    rt = [["12", "high street"], ["maple", "road", "flat", "2"]]
    for cutoff in (0.0, 50.0, 85.0):
        il, jr, sc = K.cross_token_set_scores(lt, rt, cutoff)
        got = {(i, j): s for i, j, s in zip(il.tolist(), jr.tolist(),
                                            sc.tolist())}
        for i, ta in enumerate(lt):
            fa = frozenset(ta)
            ca = sum(map(len, fa))
            for j, tb in enumerate(rt):
                fb = frozenset(tb)
                want = K.tsr_presplit(fa, fb, ca, sum(map(len, fb)), cutoff)
                if want >= cutoff:
                    assert got.get((i, j)) == want, (i, j, cutoff)
                else:
                    assert (i, j) not in got, (i, j, cutoff)
