"""Engine-parameterized SQL fragment generator for the document pipeline.

The trickiest parity surface in this engine is regex-heavy scalar logic that
must behave identically in Spark (java.util.regex) and the DuckDB oracle
(RE2). Both engines implement Perl leftmost-first semantics for the pattern
subset used here (no backrefs/lookarounds), so the same pattern text works in
both -- but SQL string-literal escaping differs (Spark SQL eats single
backslashes, DuckDB doesn't) and a few function names differ. Every fragment
is therefore generated once from a single code path and rendered per engine
('spark' | 'duck'), eliminating drift by construction.

Reference semantics modeled here (SURVEY.md §2.8, §2.10):
- field-extraction cascade: regex patterns -> keyword capture -> (LLM slot,
  deterministic default = NULL), extraction/form_filler.py:53-135
- typed value parsing, extraction/form_filler.py:137-177
- section-number detection / key cleanup,
  layout_analysis/layout_structure.py:176-208
- validation rules, utils/validation.py:28-125
"""

from __future__ import annotations

import re

SPARK, DUCK = "spark", "duck"


def pat_lit(p: str, engine: str) -> str:
    """Render a regex as a SQL string literal for the target engine."""
    q = p.replace("'", "''")
    if engine == SPARK:
        # Spark SQL string literals process C-style escapes; double the
        # backslashes so the regex reaches java.util.regex intact.
        q = q.replace("\\", "\\\\")
    return f"'{q}'"


def rx(expr: str, p: str, engine: str) -> str:
    """re.search-style boolean match (anchor with ^ in the pattern for
    re.match semantics)."""
    if engine == DUCK:
        return f"regexp_matches({expr}, {pat_lit(p, engine)})"
    return f"({expr} RLIKE {pat_lit(p, engine)})"


def rext(expr: str, p: str, group: int, engine: str) -> str:
    """regexp_extract -- same name/signature in both engines; returns ''
    when there is no match."""
    return f"regexp_extract({expr}, {pat_lit(p, engine)}, {group})"


def null_str(engine: str) -> str:
    return "CAST(NULL AS STRING)" if engine == SPARK else "CAST(NULL AS VARCHAR)"


def array_contains_sql(arr: str, value: str, engine: str) -> str:
    fn = "array_contains" if engine == SPARK else "list_contains"
    return f"{fn}({arr}, {value})"


# --- reference parsers -------------------------------------------------------

# _parse_value date patterns (extraction/form_filler.py:149-156), searched in
# order with IGNORECASE; the matched text is returned verbatim (group 0).
DATE_PATTERNS = (
    r"(\d{4}-\d{1,2}-\d{1,2})",
    r"(\d{1,2}/\d{1,2}/\d{4})",
    r"(January|February|March|April|May|June|July|August|September|October|November|December)\s+(\d{1,2}),?\s+(\d{4})",
    r"(\d{1,2})\s+(January|February|March|April|May|June|July|August|September|October|November|December)\s+(\d{4})",
)

NUMBER_PATTERN = r"(\d+(?:\.\d+)?)"

# _parse_value null-words (extraction/form_filler.py:142-143) -- note this
# parse-level list differs from the wider output-normalization list.
PARSE_NULL_WORDS = "('none','null','n/a','')"

TRUTHY_SQL = "('true','yes','1','agree','agreed')"


def parse_value_sql(v: str, ftype: str, engine: str) -> str:
    """_parse_value(value, field_type) as a SQL expression over STRING values
    (extraction/form_filler.py:137-177). ``v`` must be a side-effect-free
    expression (it is repeated).

    Number contract: the numeric token is emitted verbatim ("400"), which
    equals the reference's str(int/float) for canonical tokens (no leading
    zeros / trailing '.0' in the corpus).
    """
    t = f"trim({v})"
    if ftype == "date":
        typed = "COALESCE(" + ", ".join(
            f"NULLIF({rext(t, '(?i)' + p, 0, engine)}, '')" for p in DATE_PATTERNS
        ) + ")"
    elif ftype == "number":
        typed = f"NULLIF({rext(t, NUMBER_PATTERN, 1, engine)}, '')"
    elif ftype == "boolean":
        # reference returns a bool for ANY input (False for non-truthy)
        typed = f"(CASE WHEN lower({t}) IN {TRUTHY_SQL} THEN 'true' ELSE 'false' END)"
    else:  # string / email / currency fall through to the string branch
        typed = t
    return (f"(CASE WHEN {v} IS NULL OR lower({v}) IN {PARSE_NULL_WORDS} "
            f"THEN NULL ELSE {typed} END)")


# --- extraction cascade ------------------------------------------------------

def keyword_patterns(kw: str) -> tuple[str, str]:
    """extraction/form_filler.py:122-127: 'kw: value' / 'kw= value', then
    'kw value'; capture stops at newline/./;/, -- keyword interpolated
    unescaped, exactly like the reference."""
    return (kw + r"\s*[:=]\s*([^\n\.;,]+)", kw + r"\s+([^\n\.;,]+)")


def cascade_value_sql(text: str, ftype: str, patterns: list[str],
                      keywords: list[str], engine: str) -> str:
    """The per-field extraction cascade over a full-text expression
    (extraction/form_filler.py:53-99), deterministic default for the LLM
    slot = NULL (SURVEY.md §7: U2 is off the correctness path).

    Semantics preserved exactly:
    - schema patterns tried in order; FIRST MATCH decides -- its parsed value
      is final even when parsing yields NULL (no fallthrough to keywords);
    - per keyword, two capture shapes tried in order; an 'n/a' / empty
      capture falls through to the next shape, a successful capture decides
      that keyword (parse-NULL included);
    - keywords tried until one yields a non-NULL value (COALESCE).

    Expression-size note: "pattern matched" is tested via a non-empty
    group-1 capture rather than a second group-0 extract -- valid because
    every pattern in this corpus has a capture group that cannot match
    empty (all use +/alternation-of-nonempty quantifiers), asserted at
    generation time below. Halves the regex node count, which is what
    drives Catalyst compile time for these generated plans.
    """
    for p in patterns:
        assert re.search(r"\(\?:", p) or "(" in p, f"pattern has no group: {p}"

    whens = []
    for p in patterns:
        jp = "(?is)" + p  # re.IGNORECASE | re.DOTALL (form_filler.py:72)
        cap = f"NULLIF({rext(text, jp, 1, engine)}, '')"
        whens.append(
            f"WHEN {cap} IS NOT NULL THEN {parse_value_sql(cap, ftype, engine)}")

    kw_exprs = []
    for kw in keywords:
        kw_whens = []
        for kp in keyword_patterns(kw):
            jp = "(?i)" + kp  # IGNORECASE only (form_filler.py:130)
            val = f"trim({rext(text, jp, 1, engine)})"
            ok = f"({val} <> '' AND lower({val}) <> 'n/a')"
            kw_whens.append(f"WHEN {ok} THEN {parse_value_sql(val, ftype, engine)}")
        kw_exprs.append("(CASE " + " ".join(kw_whens) + " END)")

    fallback = ("COALESCE(" + ", ".join(kw_exprs + [null_str(engine)]) + ")"
                if kw_exprs else null_str(engine))
    if not whens:
        return fallback
    return "(CASE " + " ".join(whens) + f" ELSE {fallback} END)"


def cascade_method_sql(text: str, value_sql: str, patterns: list[str],
                       keywords: list[str], engine: str) -> str:
    """Which cascade branch decided the field: 'regex' when any schema
    pattern matched (even if parsing nulled it), else 'keyword' when the
    keyword fallback produced a value, else NULL."""
    if patterns:
        any_pat = " OR ".join(
            f"{rext(text, '(?is)' + p, 1, engine)} <> ''" for p in patterns)
        regex_when = f"WHEN ({any_pat}) THEN 'regex' "
    else:
        regex_when = ""
    kw_when = (f"WHEN {value_sql} IS NOT NULL THEN 'keyword' " if keywords else "")
    if not regex_when and not kw_when:
        return null_str(engine)
    return f"(CASE {regex_when}{kw_when}END)"


# --- sectionization ----------------------------------------------------------

# _is_section_number patterns (layout_structure.py:176-186), matched with
# re.match + IGNORECASE => '^'-anchored prefix search, case-insensitive.
SECNUM_PATTERNS = (
    r"^\d+\.(\d+\.?)*$",
    r"^Article\s+\d+",
    r"^Section\s+\d+",
    r"^\(\d+\)",
    r"^[A-Z]\.",
)


def is_secnum_sql(w: str, engine: str) -> str:
    return "(" + " OR ".join(rx(w, "(?i)" + p, engine) for p in SECNUM_PATTERNS) + ")"


def extract_key_sql(w: str, nw1: str, nw2: str, engine: str) -> str:
    """_extract_section_key(word, context) (layout_structure.py:188-208):
    strip trailing dots; 'Article'/'Section' + next digit-word -> 'Article_N';
    bare numeric sections pass through; '(N)' -> 'N'; else NULL.
    Inner checks are case-SENSITIVE re.match (no flags), as in the reference.
    """
    dot_tail = r"[.]+$"
    digits = r"^[0-9]+$"
    numeric = r"^\d+(\.\d+)*$"
    paren = r"^\((\d+)\)$"
    w2 = f"regexp_replace({w}, {pat_lit(dot_tail, engine)}, '')"
    d1 = rx(nw1, digits, engine)
    d2 = rx(nw2, digits, engine)
    num_m = rx(w2, numeric, engine)
    par_m = rx(w2, paren, engine)
    par_x = rext(w2, paren, 1, engine)
    return (
        "(CASE "
        f"WHEN lower({w2}) IN ('article','section') THEN "
        f"(CASE WHEN {nw1} IS NOT NULL AND {d1} THEN {w2} || '_' || {nw1} "
        f"WHEN {nw2} IS NOT NULL AND {d2} THEN {w2} || '_' || {nw2} END) "
        f"WHEN {num_m} THEN {w2} "
        f"WHEN {par_m} THEN {par_x} "
        "END)"
    )


# --- validation --------------------------------------------------------------

EMAIL_PATTERN = r"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$"
CURRENCY_PATTERN = r"^[A-Z]{3}\s+[\d,]+(\.\d{2})?$"
ISO_DATE_PATTERN = r"^\d{4}-\d{2}-\d{2}$"


def type_ok_sql(ftype_expr: str, value: str, engine: str) -> str:
    """TypeValidationRule over EAV string values (utils/validation.py:37-94).
    Date validity = padded-ISO (datetime.fromisoformat proxy); boolean strict
    = canonical 'true'/'false' (isinstance(bool) proxy)."""
    return (
        f"(CASE {ftype_expr} "
        f"WHEN 'date' THEN {rx(value, ISO_DATE_PATTERN, engine)} "
        f"WHEN 'number' THEN try_cast({value} AS DOUBLE) IS NOT NULL "
        f"WHEN 'boolean' THEN {value} IN ('true','false') "
        f"WHEN 'email' THEN {rx(value, EMAIL_PATTERN, engine)} "
        f"WHEN 'currency' THEN {rx(value, CURRENCY_PATTERN, engine)} "
        f"ELSE TRUE END)"
    )
