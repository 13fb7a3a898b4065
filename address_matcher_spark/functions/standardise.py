"""Address standardisation & field extraction as native Spark expressions.

Re-expresses the reference's pandas/regex standardisation layer
(``/root/reference/tools/standardise.py`` and ``tools/preparation.py``)
as pure ``pyspark.sql.functions`` Column builders so the whole layer stays
inside WholeStageCodegen (no Python in the hot path).  Every builder cites
the reference lines it reproduces; golden tests in
``tests/test_standardise_golden.py`` assert byte-identical outputs against
fixtures frozen from the reference's own pandas functions.

Python→Java regex notes: backrefs ``\\1`` become ``$1``; inline ``(?i)``
and lookaheads are Java-compatible; ``\\w``/``\\b`` are ASCII-equivalent on
this data.  pandas' ``str.replace(lit, x, regex=False)`` maps to
``regexp_replace`` with the literal escaped.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from address_matcher_spark.functions.cache import cached

# ---------------------------------------------------------------------------
# T1/T2 — UK postcode extract / remove (tools/standardise.py:621-641)
# ---------------------------------------------------------------------------

# Full postcode | partial trailing forms (outward + leading digit) | outward only
PCODE_EXTRACT_RE = (
    r"(\b(?:[A-Z][A-HJ-Y]?[0-9][0-9A-Z]? ?[0-9][A-Z]{2})|((GIR ?0A{2})\b$)"
    r"|(?:[A-Z][A-HJ-Y]?[0-9][0-9A-Z]? ?[0-9]{1}?)$)|(\b(?:[A-Z][A-HJ-Y]?[0-9][0-9A-Z]?)\b$)"
)
PCODE_REMOVE_RE = (
    r"\b(?:[A-Z][A-HJ-Y]?[0-9][0-9A-Z]? ?[0-9][A-Z]{2}|GIR ?0A{2})\b$"
    r"|(?:[A-Z][A-HJ-Y]?[0-9][0-9A-Z]? ?[0-9]{1}?)$"
    r"|\b(?:[A-Z][A-HJ-Y]?[0-9][0-9A-Z]?)\b$"
)


def extract_postcode(col: Column) -> Column:
    """tools/standardise.py:621-628 — first capture group of the UK-postcode regex."""
    return F.nullif(F.regexp_extract(F.upper(col), PCODE_EXTRACT_RE, 1), F.lit(""))


def remove_postcode(col: Column) -> Column:
    """tools/standardise.py:630-641 — strip trailing postcode, lowercase."""
    return F.lower(F.regexp_replace(F.upper(col), PCODE_REMOVE_RE, ""))


# ---------------------------------------------------------------------------
# T7 — minimal standardisation / blocking key (tools/standardise.py:26-36)
# ---------------------------------------------------------------------------


def full_address_search(col: Column) -> Column:
    return F.trim(F.lower(col))


def postcode_search_key(col: Column) -> Column:
    """The postcode blocking key: lower, strip, de-space."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", "")


# ---------------------------------------------------------------------------
# F5/F6 — exclusion flags (tools/standardise.py:644-680)
# ---------------------------------------------------------------------------


def exclusion_flag(col: Column) -> Column:
    """'Excluded from search' reason column; null when not excluded.

    Order matters: remove_non_postal runs after check_no_number_addresses in
    the reference (tools/matcher_funcs.py:734-737), so non-postal wins.
    """
    lowered = F.lower(col)
    no_number = lowered.rlike(r"^(?!.*\d+).*$")
    non_postal = (
        lowered.rlike(r"(?i)(?:\bgarage\b|\bgarages\b)")
        | lowered.rlike(r"(?i)(?:\bparking\b)")
        | lowered.rlike(r"(?i)(?:\bshed\b|\bsheds\b)")
        | lowered.rlike(r"(?i)(?:\bbike\b|\bbikes\b)")
        | lowered.rlike(r"(?i)(?:\bbicycle store\b)")
    )
    return (
        F.when(non_postal, F.lit("Excluded - non-postal address"))
        .when(no_number, F.lit("Excluded - no numbers in address"))
        .otherwise(F.lit(None).cast("string"))
    )


# ---------------------------------------------------------------------------
# T9 — replace_mistaken_dates (tools/standardise.py:682-704)
# ---------------------------------------------------------------------------

_MONTHS = [
    ("jan", "1"), ("feb", "2"), ("mar", "3"), ("apr", "4"), ("may", "5"),
    ("jun", "6"), ("jul", "7"), ("aug", "8"), ("sep", "9"), ("oct", "10"),
    ("nov", "11"), ("dec", "12"),
]


def replace_mistaken_dates(col: Column) -> Column:
    """``(\\d{2})-mon`` → day-with-leading-zero-stripped ``-`` month-number.

    The Python callback strips leading zeros from the 2-digit day; unrolled
    here into ordered rules per month (``00``→``""``, ``0d``→``d``, else keep).
    """
    out = col
    for mon, num in _MONTHS:
        out = F.regexp_replace(out, r"00-" + mon, "-" + num)
        out = F.regexp_replace(out, r"0(\d)-" + mon, "$1-" + num)
        out = F.regexp_replace(out, r"(\d{2})-" + mon, "$1-" + num)
    return out


# ---------------------------------------------------------------------------
# T8 — synonym / abbreviation replacement (tools/standardise.py:121-139)
# ---------------------------------------------------------------------------

# (pattern, replacement, is_regex) in the reference's exact order
_SYNONYM_RULES = [
    (r"\brd\b", "road", True),
    (r"\bst\b", "street", True),
    (r"\bave\b", "avenue", True),
    ("'", "", False),
    (r"\bat\b ", " ", True),
    ("apartment", "flat", False),
    ("studio flat", "flat", False),
    ("cluster flat", "flats", False),
    (r"\bflr\b", "floor", True),
    (r"\bflrs\b", "floors", True),
    (r"\blwr\b", "lower", True),
    (r"\bgnd\b", "ground", True),
    (r"\blgnd\b", "lower ground", True),
    (r"\bgrd\b", "ground", True),
    (r"\bmais\b", "flat", True),
    (r"\bmaisonette\b", "flat", True),
    (r"\bpt\b", "penthouse", True),
    (r"\bbst\b", "basement", True),
    (r"\bbsmt\b", "basement", True),
]

_JAVA_ESCAPE = str.maketrans({c: "\\" + c for c in r"\.[]{}()*+?^$|"})


def _lit_re(s: str) -> str:
    """Escape a literal string for use as a Java regex."""
    return s.translate(_JAVA_ESCAPE)


def apply_synonyms(col: Column) -> Column:
    out = col
    for pat, repl, is_regex in _SYNONYM_RULES:
        out = F.regexp_replace(out, pat if is_regex else _lit_re(pat), repl)
    return out


# ---------------------------------------------------------------------------
# T10 — remove_flat_one_number_address (tools/standardise.py:291-318)
# ---------------------------------------------------------------------------

_RE_LETTER_AFTER_NUMBER = r"\d+(?:[a-z]|[A-Z])(?!.*\d+)"
_RE_SINGLE_LETTER_BEFORE_NUMBER = r"\b[A-Za-z]\b[^\d]* \d"
_RE_TWO_NUMBERS = r"(?:\d+.*?)[^a-zA-Z0-9_].*?\d+"
_RE_HAS_APARTMENT = r"\bapartment\b \w+|\bapartments\b \w+"
_RE_HAS_FLAT = r"\bflat\b \w+|\bflats\b \w+"
_RE_HAS_ROOM = r"\broom\b \w+|\brooms\b \w+"


def remove_flat_one_number_address(col: Column) -> Column:
    lowered = F.lower(col)
    selected = (
        ~lowered.rlike(_RE_LETTER_AFTER_NUMBER)
        & ~lowered.rlike(_RE_TWO_NUMBERS)
        & ~lowered.rlike(_RE_SINGLE_LETTER_BEFORE_NUMBER)
        & (
            lowered.rlike(_RE_HAS_FLAT)
            | lowered.rlike(_RE_HAS_APARTMENT)
            | lowered.rlike(_RE_HAS_ROOM)
        )
    )
    stripped = F.regexp_replace(col, r"(\bapartment\b)|(\bapartments\b)", "")
    stripped = F.regexp_replace(stripped, r"(\bflat\b)|(\bflats\b)", "")
    stripped = F.regexp_replace(stripped, r"(\broom\b)|(\brooms\b)", "")
    return F.when(selected, stripped).otherwise(col)


# ---------------------------------------------------------------------------
# T11 — move_flat_house_court (tools/standardise.py:191-220)
# ---------------------------------------------------------------------------


def _move_flat_house_court_post(flat_removed: Column) -> Column:
    """Prepend 'flat ' to addresses containing house/court/terrace; takes
    the already-computed remove_flat_one_number_address output (callers
    materialize it as a named column to keep the expression tree shallow)."""
    lowered = F.lower(flat_removed)
    cond = (
        lowered.rlike(r"\bhouse\b")
        | lowered.rlike(r"\bcourt\b")
        | lowered.rlike(r"\bterrace\b")
    )
    replacement = F.concat(
        F.lit("flat "), F.trim(F.regexp_replace(flat_removed, r"\bflat\b", ""))
    )
    return F.when(cond, replacement).otherwise(flat_removed)


# ---------------------------------------------------------------------------
# T12/T13 — comma spacing + number-range collapse (tools/standardise.py:144-149)
# ---------------------------------------------------------------------------


def fix_comma_spacing(col: Column) -> Column:
    out = F.regexp_replace(col, r",(\w)", ", $1")
    # literal single-pass double-space collapse (NOT \s+): pandas regex=False
    return F.regexp_replace(out, r"  ", " ")


def collapse_number_ranges(col: Column) -> Column:
    out = F.regexp_replace(col, r"(\d+)/(\d+)", "$1")
    out = F.regexp_replace(out, r"(\d+)-(\d+)", "$1")
    return F.regexp_replace(out, r"(\d+) - (\d+)", "$1")


# ---------------------------------------------------------------------------
# T14 — extract_letter_one_number_address (tools/standardise.py:336-381)
# ---------------------------------------------------------------------------


def _extract_or_null(col: Column, pattern: str, group: int = 1) -> Column:
    return F.nullif(F.regexp_extract(col, pattern, group), F.lit(""))


def extract_letter_one_number_address(col: Column) -> Column:
    lowered = F.lower(col)
    selected = (
        lowered.rlike(r"^(?:(?!\d+ ).)*$")
        & lowered.rlike(_RE_LETTER_AFTER_NUMBER)
        & ~lowered.rlike(_RE_HAS_FLAT)
        & ~lowered.rlike(_RE_HAS_APARTMENT)
        & ~lowered.rlike(_RE_HAS_ROOM)
    )
    letter = F.regexp_extract(col, r"\d+([a-z]|[A-Z])", 1)
    number = F.regexp_extract(col, r"(\d+)[a-z]|[A-Z]", 1)
    rest = F.regexp_replace(
        F.regexp_replace(col, r"\bflat\b", ""), r"\d+([a-z]|[A-Z])", ""
    )
    replacement = F.concat(
        F.lit("flat "), letter, F.lit(" "), number, F.lit(" "), rest
    )
    return F.when(selected, replacement).otherwise(col)


# ---------------------------------------------------------------------------
# T15 — replace_floor_flat (tools/standardise.py:404-473)
# ---------------------------------------------------------------------------

# (contains-pattern, prefix, remove-pattern) in merge order: later entries
# override earlier ones (merge_series cascade, tools/standardise.py:457-471).
# The basement prefix has no trailing space and the bgf branch removes a
# phrase that differs from its condition — both preserved from the reference.
_FLOOR_BRANCHES = [
    (r"basement", "flat basement", r"\bbasement\b"),
    (r"\bground floor\b", "flat a ", r"\bground floor\b"),
    (r"\bfirst floor\b", "flat b ", r"\bfirst floor\b"),
    (r"\b1st floor\b", "flat b ", r"\b1st floor\b"),
    (r"\bground and first floor\b", "flat ab ", r"\bground and first floor\b"),
    (
        r"\bbasement ground and first floors\b",
        "flat basementab ",
        r"\bbasement and ground and first floors\b",
    ),
    (
        r"\bbasement ground and first floors\b",
        "flat basementab ",
        r"\bbasement ground and first floors\b",
    ),
    (r"\bsecond floor\b", "flat c ", r"\bsecond floor\b"),
    (r"\b2nd floor\b", "flat c ", r"\b2nd floor\b"),
    (r"\bfirst and second floor\b", "flat bc ", r"\bfirst and second floor\b"),
    (
        r"\bground and first and second floor\b",
        "flat abc ",
        r"\bground and first and second floor\b",
    ),
    (r"\bthird floor\b", "flat d ", r"\bthird floor\b"),
    (r"\b3rd floor\b", "flat d ", r"\b3rd floor\b"),
    (r"\btop floor\b", "flat top ", r"\btop floor\b"),
]


def replace_floor_flat(col: Column) -> Column:
    out = extract_letter_one_number_address(col)
    lowered = F.lower(col)
    for contains_pat, prefix, remove_pat in _FLOOR_BRANCHES:
        replacement = F.concat(
            F.lit(prefix),
            F.regexp_replace(
                F.regexp_replace(col, r"\bflat\b", ""), remove_pat, ""
            ),
        )
        out = F.when(lowered.rlike(contains_pat), replacement).otherwise(out)
    return out


# ---------------------------------------------------------------------------
# T16 — add_flat_addresses_start_with_letter (tools/standardise.py:320-334)
# ---------------------------------------------------------------------------


def add_flat_start_letter(col: Column) -> Column:
    cond = F.lower(col).rlike(r"^\b[A-Za-z]\b[^\d]* \d")
    return F.when(cond, F.concat(F.lit("flat "), col)).otherwise(col)


# ---------------------------------------------------------------------------
# standardise_address (tools/standardise.py:60-189)
# ---------------------------------------------------------------------------


@cached
def _cascade(in_col: str, out_col: str, standardise: bool):
    """(stages, fields) of standardise_address_df: the (column,
    expression) of each stage projection, and the select list appending
    the number fields to every column."""
    tmp = f"__std_{out_col}"
    if standardise:
        # linear chains (each referencing its input once) are fused into a
        # single Project; only the multi-reference when/otherwise cascades
        # get their own materialisation step — fewer Projects keeps
        # driver-side analysis time down without re-inflating the tree
        prev = F.col(tmp)
        stages = (
            (tmp, apply_synonyms(replace_mistaken_dates(
                F.lower(remove_postcode(F.trim(F.col(in_col))))))),
            (tmp, remove_flat_one_number_address(prev)),
            (tmp, collapse_number_ranges(
                fix_comma_spacing(_move_flat_house_court_post(prev)))),
            (tmp, replace_floor_flat(prev)),
            (out_col, F.trim(add_flat_start_letter(prev))),
        )
    else:
        stages = ((out_col, F.trim(remove_postcode(F.trim(F.col(in_col))))),)
    fields = extract_number_fields(F.col(out_col))
    return stages, (
        F.col("*"), *[expr.alias(name) for name, expr in fields.items()])


def standardise_address_df(df, in_col: str, out_col: str, standardise: bool):
    """The full/minimal standardisation cascade producing ``out_col`` plus
    the extracted number-field columns, as a DataFrame transformation.

    Mirrors tools/standardise.py:60-189: strip → remove postcode (→ lower)
    → [if standardise: dates → synonyms → house/court → comma fix → ranges
    → floor-flat → leading-letter flat] → strip → field extraction.

    Implemented stage-by-stage with named intermediate columns (not one
    nested Column expression): the when/otherwise cascades reference their
    input many times, and inlining would duplicate the upstream subtree
    multiplicatively — Catalyst's CollapseProject keeps multiply-referenced
    non-cheap aliases materialized, so each stage stays a shallow
    expression and the whole layer remains one codegen'd projection chain.

    The stage expressions and the field select list are built once per
    process (functions/cache.py), keyed on (in_col, out_col, standardise):
    a second call builds nothing and only applies them, one projection
    per stage.
    """
    stages, fields = _cascade(in_col, out_col, standardise)
    for name, expr in stages:
        df = df.withColumn(name, expr)
    if standardise:
        df = df.drop(f"__std_{out_col}")
    return df.select(*fields)


# ---------------------------------------------------------------------------
# T18-T22 — number-field extraction (tools/standardise.py:516-619,546-588)
# ---------------------------------------------------------------------------


def extract_prop_no(col: Column) -> Column:
    """tools/standardise.py:516-530 — last number(+letters) after stripping
    leading flat/apartment/room tokens and commas."""
    x = F.regexp_replace(col, r"(^\bapartment\b \w+)|(^\bapartments\b \w+)", "")
    x = F.regexp_replace(x, r"(^\bflat\b \w+)|(^\bflats\b \w+)", "")
    x = F.regexp_replace(x, r"(^\broom\b \w+)|(^\brooms\b \w+)", "")
    x = F.regexp_replace(x, r",", "")
    return _extract_or_null(x, r"(\d+\w+|\d+)(?!.*\d+)")


_FLAT_GROUP_GUARD = (
    r"^\d+([a-z]|[A-Z])(?!.*\d+)|^([a-z] |[A-Z] )(?!.*\d+)"
    r"|\bflat\b|\bapartment\b|(\d+.*?)[^a-zA-Z0-9_].*?\d+"
)


def extract_flat_number(col: Column) -> Column:
    """tools/standardise.py:546-588 + merge order 174-178 — the six-way
    coalesce producing flat_number."""
    guard_src = F.regexp_replace(F.lower(col), r"^\bflats\b", "flat")
    guarded = F.when(
        guard_src.rlike(_FLAT_GROUP_GUARD), F.regexp_replace(col, r"no.", "")
    )
    prop_number = _extract_or_null(guarded, r"^\d+([a-z]|[A-Z])(?!.*\d+)")
    flat_number = _extract_or_null(guarded, r"(?i)(?:flat|flats) (\w+)")
    apart_number = _extract_or_null(guarded, r"(?i)(?:apartment|apartments) (\w+)")
    first_sec_number = _extract_or_null(guarded, r"(\d+.*?)[^a-zA-Z0-9_].*?\d+")
    first_letter_flat = _extract_or_null(guarded, r"\b([A-Za-z])\b[^\d]* \d")
    first_letter_no_more = _extract_or_null(guarded, r"^([a-z] |[A-Z] )(?!.*\d+)")
    # merge_series(base, replacer) lets the REPLACER win
    # (tools/standardise.py:706-718), so the cascade at 174-178 gives the
    # LAST merged extractor precedence: reverse-order coalesce.
    return F.coalesce(
        first_letter_no_more,
        first_letter_flat,
        first_sec_number,
        prop_number,
        apart_number,
        flat_number,
    )


def extract_room_no(col: Column) -> Column:
    """tools/standardise.py:532-544.

    In the shipped reference this is dead code: ``str.extract(...,
    regex=True)`` raises TypeError (extract takes no ``regex`` kwarg) and
    the surrounding try/except swallows it, so room_number is always NaN.
    Preserved byte-identically (the verification predicate then compares
    ''=='', always true — tools/fuzzy_match.py:269).
    """
    return F.lit(None).cast("string")


def extract_block_number(col: Column) -> Column:
    return _extract_or_null(col, r"(?i)(?:block|blocks) (\w+)")


def extract_unit_number(col: Column) -> Column:
    return _extract_or_null(col, r"(?i)(?:unit|units) (\w+)")


def extract_house_court_name(col: Column) -> Column:
    return _extract_or_null(col, r"(\w+)\s+(house|court|estate|buildings|mansions)")


def extract_number_fields(col: Column) -> dict[str, Column]:
    """The full post-standardisation extraction layer
    (tools/standardise.py:164-188) as a dict of named Columns."""
    return {
        "property_number": extract_prop_no(col),
        "flat_number": extract_flat_number(col),
        "room_number": extract_room_no(col),
        "block_number": extract_block_number(col),
        "unit_number": extract_unit_number(col),
        "house_court_name": extract_house_court_name(col),
    }


# ---------------------------------------------------------------------------
# T23 — street name extraction (tools/preparation.py:274-340)
# ---------------------------------------------------------------------------

_STREET_TYPES = [
    "Street", "St", "Boulevard", "Blvd", "Highway", "Hwy", "Broadway",
    "Freeway", "Causeway", "Cswy", "Expressway", "Way", "Walk", "Lane", "Ln",
    "Road", "Rd", "Avenue", "Ave", "Circle", "Cir", "Cove", "Cv", "Drive",
    "Dr", "Parkway", "Pkwy", "Park", "Court", "Ct", "Square", "Sq", "Loop",
    "Place", "Pl", "Parade", "Estate", "Alley", "Arcade", "Avenue", "Ave",
    "Bay", "Bend", "Brae", "Byway", "Close", "Corner", "Cove", "Crescent",
    "Cres", "Cul-de-sac", "Dell", "Drive", "Dr", "Esplanade", "Glen",
    "Green", "Grove", "Heights", "Hts", "Mews", "Parade", "Path", "Piazza",
    "Promenade", "Quay", "Ridge", "Row", "Terrace", "Ter", "Track", "Trail",
    "View", "Villas", "Marsh", "Embankment", "Cut", "Hill", "Passage",
    "Rise", "Vale", "Side",
]

_STREET_PATTERN = (
    r"(?i)(?:\d+\s+|\w+\s+\d+\s+|.*\d+[a-z]+\s+|.*\d+\s+)*"
    r"([\w\s]+(?:" + "|".join(_lit_re(s) for s in _STREET_TYPES) + r"))"
)


def extract_street_name(col: Column) -> Column:
    """tools/preparation.py:274-340 — uppercase, strip trailing postcode,
    case-insensitive street-suffix search; '' when no match."""
    no_pcode = F.regexp_replace(F.upper(col), PCODE_REMOVE_RE, "")
    return F.trim(F.regexp_extract(no_pcode, _STREET_PATTERN, 1))


# ---------------------------------------------------------------------------
# T5/T6 — LPI full-address assembly (tools/preparation.py:146-170,221-227)
# ---------------------------------------------------------------------------

_LPI_COLS = [
    "Organisation", "SaoStartNumber", "SaoStartSuffix", "SaoEndNumber",
    "SaoEndSuffix", "SaoText", "PaoStartNumber", "PaoStartSuffix",
    "PaoEndNumber", "PaoEndSuffix", "PaoText", "Street", "PostTown",
    "Postcode",
]


def _repl_protect(col: Column) -> Column:
    x = F.regexp_replace(col, _lit_re(" - "), " REPL ")
    x = F.regexp_replace(x, _lit_re("- "), " REPLEFT ")
    return F.regexp_replace(x, _lit_re(" -"), " REPLRIGHT ")


def create_full_address(c: dict[str, Column]) -> Column:
    """tools/preparation.py:146-170 — assemble LPI fields into one string
    with the REPL-token dance protecting legitimate hyphens in Sao/PaoText,
    then the -999 / dangling-hyphen / whitespace cleanup.  The separate
    second cleanup pass from prepare_ref_address is ``clean_fulladdress``."""
    nz = {k: F.coalesce(v.cast("string"), F.lit("")) for k, v in c.items()}
    assembled = F.concat(
        nz["Organisation"], F.lit(" "),
        _repl_protect(nz["SaoText"]), F.lit(" "),
        nz["SaoStartNumber"], nz["SaoStartSuffix"], F.lit("-"),
        nz["SaoEndNumber"], nz["SaoEndSuffix"], F.lit(" "),
        _repl_protect(nz["PaoText"]), F.lit(" "),
        nz["PaoStartNumber"], nz["PaoStartSuffix"], F.lit("-"),
        nz["PaoEndNumber"], nz["PaoEndSuffix"], F.lit(" "),
        nz["Street"], F.lit(" "), nz["PostTown"], F.lit(" "), nz["Postcode"],
    )
    x = F.regexp_replace(assembled, _lit_re("-999"), "")
    x = F.regexp_replace(x, _lit_re(" -"), " ")
    x = F.regexp_replace(x, _lit_re("- "), " ")
    x = F.regexp_replace(x, _lit_re(" REPL "), " - ")
    x = F.regexp_replace(x, _lit_re(" REPLEFT "), "- ")
    x = F.regexp_replace(x, _lit_re(" REPLRIGHT "), " -")
    x = F.regexp_replace(x, r"\s+", " ")
    return F.trim(x)


def clean_fulladdress(col: Column) -> Column:
    """tools/preparation.py:221-227 — the second cleanup pass applied to
    the assembled fulladdress (note: runs AFTER the REPL restore, so it
    also strips hyphens the dance re-introduced — preserved verbatim)."""
    x = F.regexp_replace(col, _lit_re("-999"), "")
    x = F.regexp_replace(x, _lit_re(" -"), " ")
    x = F.regexp_replace(x, _lit_re("- "), " ")
    x = F.regexp_replace(x, _lit_re(".0"), "")
    x = F.regexp_replace(x, r"\s{2,}", " ")
    return F.trim(x)
