"""Deterministic literal fixtures shared by Spark queries and DuckDB oracles.

The driver's oracle only pre-registers the 10 analytics tables, so
document-pipeline queries (FIXTURES.md group A) build their input twice from
the same Python literals: ``catalog.local_df(spark, ROWS, SCHEMA)`` (a JVM
``LocalRelation``) on the Spark side and an inline ``VALUES`` CTE (rendered
by :func:`values_sql`) on the DuckDB side. Both renderings come from the single source of truth below, so
they cannot drift.
"""

from __future__ import annotations

import datetime as _dt


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return f"CAST({v} AS BIGINT)"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(_sql_lit(x) for x in v) + "]"
    raise TypeError(f"no SQL literal rendering for {type(v)}")


def values_sql(rows: list[tuple], cols: list[str]) -> str:
    """Render rows as a DuckDB inline relation: ``(VALUES ...) AS t(c1, c2)``."""
    body = ",\n        ".join("(" + ", ".join(_sql_lit(v) for v in row) + ")"
                              for row in rows)
    return f"(VALUES\n        {body}) AS t({', '.join(cols)})"


# ---------------------------------------------------------------------------
# Scalar-function fixture: raw strings exercising the reference's parsers
# (dates in 4 formats, numbers, booleans, null-words, emails, currency --
# SURVEY.md §2.8 F5/F6, §1.2).
# ---------------------------------------------------------------------------
SCALAR_COLS = ["id", "raw"]
# (document-pipeline fixtures are appended below the scalar fixture)
SCALAR_ROWS: list[tuple] = [
    (1, "2021-03-05"),
    (2, "3/15/2021"),
    (3, "March 15, 2021"),
    (4, "15 March 2021"),
    (5, "not a date"),
    (6, "2021-13-45"),
    (7, "  2022-01-02  "),
    (8, "Payment of 1500.75 dollars due"),
    (9, "within 30 days"),
    (10, "USD 1,000.50"),
    (11, "no digits here"),
    (12, "true"),
    (13, "Agreed"),
    (14, "no"),
    (15, "maybe"),
    (16, "None"),
    (17, "N/A"),
    (18, "  null "),
    (19, "unknown"),
    (20, ""),
    (21, "actual value"),
    (22, "alice.smith+legal@example-corp.com"),
    (23, "not-an-email@"),
    (24, "USD 5,000.00"),
    (25, "usd 5000"),
    (26, "EUR 250"),
    (27, "yes"),
    (28, "0"),
    (29, "42"),
    (30, "3.14 and 2.72"),
    (31, "Effective 2021-03-05"),       # date as a substring (re.search)
    (32, "March 15 2021"),              # comma-less "Month D YYYY"
    (33, "signed on 3/15/2021."),       # slash date mid-sentence
    (34, "15 MARCH 2021"),              # IGNORECASE month name
]


# ---------------------------------------------------------------------------
# Document-pipeline fixtures (FIXTURES.md group A). Four synthetic documents
# modeled on the reference's DocumentBlock stream
# (/root/reference/ingestion/ingestion.py:13-35): numbered/Article/Section
# headings, duplicate section keys, a trigger-without-key "A." word, an
# all-blank block, a sparse page (<50 chars => OCR routing), an OCR block
# with NULL bbox, and field-bearing sentences for every extraction shape.
# ---------------------------------------------------------------------------
PAGE_W, PAGE_H = 612.0, 792.0  # US-Letter points; fixture pages are uniform

BLOCK_COLS = ["doc_id", "page", "block_idx", "text", "label",
              "confidence", "source", "x0", "y0", "x1", "y1"]
BLOCK_ROWS: list[tuple] = [
    # doc 1 -- NDA, every field extractable
    (1, 0, 0, "Non-Disclosure Agreement", "heading", 1.0, "native", 72.0, 72.0, 540.0, 100.0),
    (1, 0, 1, "1. Parties", "paragraph", 1.0, "native", 72.0, 110.0, 200.0, 130.0),
    (1, 0, 2, "The disclosing party means Acme Corporation, and the receiving party means Beta LLC, for this deal.",
     "paragraph", 1.0, "native", 72.0, 140.0, 540.0, 200.0),
    (1, 0, 3, "2. Term", "paragraph", 1.0, "native", 72.0, 210.0, 200.0, 230.0),
    (1, 0, 4, "2.1 This agreement is effective on March 15, 2021 and remains in force.",
     "paragraph", 1.0, "native", 72.0, 240.0, 540.0, 280.0),
    (1, 0, 5, "3. Termination", "paragraph", 1.0, "native", 72.0, 290.0, 220.0, 310.0),
    (1, 1, 6, "Either side may end it with termination notice period : 30 days written notice required.",
     "paragraph", 1.0, "native", 72.0, 72.0, 540.0, 120.0),
    (1, 1, 7, "4. Governing Law", "paragraph", 1.0, "native", 72.0, 130.0, 240.0, 150.0),
    (1, 1, 8, "This agreement shall be governed by the laws of the State of California, without regard to conflicts.",
     "paragraph", 1.0, "native", 72.0, 160.0, 540.0, 210.0),
    (1, 1, 9, "5. Confidentiality", "list_item", 1.0, "native", 72.0, 220.0, 260.0, 240.0),
    (1, 1, 10, "The recipient shall maintain confidentiality for a period of 5 years after expiry.",
     "paragraph", 1.0, "native", 72.0, 250.0, 540.0, 300.0),
    (1, 1, 11, "A. Appendix materials are listed in the attachment.",
     "paragraph", 1.0, "native", 72.0, 310.0, 540.0, 340.0),
    (1, 2, 12, "(3) Delivery terms follow the schedule strictly.",
     "paragraph", 1.0, "native", 72.0, 72.0, 500.0, 100.0),
    (1, 2, 13, "   ", "paragraph", 1.0, "native", 72.0, 110.0, 100.0, 120.0),
    (1, 3, 14, "Sig.", "caption", 0.8, "ocr", None, None, None, None),
    # doc 2 -- NDA, one field missing (FN), one spurious (FP), Article heading
    (2, 0, 0, "Mutual NDA", "heading", 1.0, "native", 72.0, 72.0, 400.0, 100.0),
    (2, 0, 1, "1. Introduction", "paragraph", 1.0, "native", 72.0, 110.0, 240.0, 130.0),
    (2, 0, 2, "This mutual agreement is effective as of 2021-07-01 between the owner : Gamma Inc, and others.",
     "paragraph", 1.0, "native", 72.0, 140.0, 540.0, 190.0),
    (2, 0, 3, "All disputes are subject to the New York jurisdiction, as decided.",
     "paragraph", 1.0, "native", 72.0, 200.0, 540.0, 230.0),
    (2, 1, 4, "Article 5 Compensation", "heading", 1.0, "native", 72.0, 72.0, 400.0, 100.0),
    (2, 1, 5, "Payment details are described here fully. Payment notice period : 15 days for invoices.",
     "paragraph", 1.0, "native", 72.0, 110.0, 540.0, 160.0),
    (2, 1, 6, "The confidentiality period of indefinite applies.",
     "paragraph", 1.0, "native", 72.0, 170.0, 540.0, 200.0),
    # doc 3 -- Employment (reference schema: no patterns/keywords => all-NULL
    # extraction, exercising FN scoring + required-field errors)
    (3, 0, 0, "Employment Agreement", "heading", 1.0, "native", 72.0, 72.0, 460.0, 100.0),
    (3, 0, 1, "1. Parties", "paragraph", 1.0, "native", 72.0, 110.0, 200.0, 130.0),
    (3, 0, 2, "The employee John Smith joins Omega Corp as Engineer on 2022-03-01.",
     "paragraph", 1.0, "native", 72.0, 140.0, 540.0, 180.0),
    (3, 0, 3, "2. Compensation", "paragraph", 1.0, "native", 72.0, 190.0, 240.0, 210.0),
    (3, 0, 4, "Salary shall be USD 75000 per year with 25 vacation days.",
     "paragraph", 1.0, "native", 72.0, 220.0, 540.0, 260.0),
    (3, 1, 5, "Section 3 Benefits", "heading", 1.0, "native", 72.0, 72.0, 380.0, 100.0),
    (3, 1, 6, "Vacation allowance is 25 days annually.", "paragraph", 1.0, "native", 72.0, 110.0, 500.0, 140.0),
    # doc 4 -- Service form (engine-registered schema): keyword cascade,
    # constraint violations, default-value recovery
    (4, 0, 0, "Service Agreement", "heading", 1.0, "native", 72.0, 72.0, 420.0, 100.0),
    (4, 0, 1, "1. Contact", "paragraph", 1.0, "native", 72.0, 110.0, 200.0, 130.0),
    (4, 0, 2, "Our contact email : alice@example.com is primary.",
     "paragraph", 1.0, "native", 72.0, 140.0, 540.0, 170.0),
    (4, 0, 3, "2. Terms", "paragraph", 1.0, "native", 72.0, 180.0, 200.0, 200.0),
    (4, 0, 4, "The customer agreed yes to all terms gladly.",
     "paragraph", 1.0, "native", 72.0, 210.0, 520.0, 240.0),
    (4, 0, 5, "3. Fees", "paragraph", 1.0, "native", 72.0, 250.0, 200.0, 270.0),
    (4, 0, 6, "Service fee : USD 1,200.50 due monthly and support days : 400 per year.",
     "paragraph", 1.0, "native", 72.0, 280.0, 540.0, 320.0),
    (4, 0, 7, "4. Priority", "paragraph", 1.0, "native", 72.0, 330.0, 220.0, 350.0),
    (4, 0, 8, "Priority : platinum tier selected by client.",
     "paragraph", 1.0, "native", 72.0, 360.0, 520.0, 390.0),
]

DOC_FORM_COLS = ["doc_id", "form_name"]
DOC_FORM_ROWS: list[tuple] = [
    (1, "NDA_Form"),
    (2, "NDA_Form"),
    (3, "Employment_Agreement"),
    (4, "Service_Form"),
]

# Schema-as-data, long/EAV form (FIXTURES.md A3). NDA + Employment fields
# mirror the reference defaults (/root/reference/schema/schema.py:67-178)
# field-for-field; Service_Form is engine-registered (the schema registry is
# late-bound by design, schema/schema.py:21-63) to exercise the keyword
# cascade, constraints, and default-value recovery.
SCHEMA_COLS = ["form_name", "field_name", "ftype", "section", "required",
               "keywords", "patterns", "examples",
               "c_min", "c_max", "c_pattern", "c_enum", "default_value"]
SCHEMA_ROWS: list[tuple] = [
    # NDA_Form (schema.py:67-137)
    ("NDA_Form", "effective_date", "date", "Effective", True,
     ["effective", "effective date", "becomes effective", "effective on"],
     [r"effective\s+(?:on\s+)?(?:as of\s+)?([A-Za-z]+\s+\d{1,2},?\s+\d{4}|\d{4}-\d{1,2}-\d{1,2}|\d{1,2}/\d{1,2}/\d{4})"],
     ["2024-01-15", "2023-12-01"], None, None, None, None, None),
    ("NDA_Form", "termination_notice", "string", "Termination", False,
     ["termination", "notice", "notice period", "days notice"],
     [r"(?:termination|notice)\s+(?:notice\s+)?(?:period\s+)?[:\-]?\s*([0-9]+\s+(?:days?|months?|years?)(?:\s+(?:written\s+)?notice)?)"],
     ["30 days", "60 days written notice"], None, None, None, None, None),
    ("NDA_Form", "governing_law", "string", "Governing", True,
     ["governing law", "governed by", "governed under", "jurisdiction", "laws of"],
     [r"(?:governed by|subject to|laws of|jurisdiction of)\s+(?:the\s+)?([A-Za-z\s]+?)(?:\.|,|;|and)",
      r"([A-Za-z]+\s+(?:law|jurisdiction))"],
     ["State of California", "New York"], None, None, None, None, None),
    ("NDA_Form", "disclosing_party", "string", "Parties", True,
     ["disclosing party", "discloser", "provider", "owner"],
     [r"(?:disclosing party|discloser|provider|owner)\s+(?:means\s+)?[:\"]?\s*([A-Za-z\s&\(\)]+?)(?:\"|,|;|and)"],
     None, None, None, None, None, None),
    ("NDA_Form", "receiving_party", "string", "Parties", True,
     ["receiving party", "recipient", "receiver"],
     [r"(?:receiving party|recipient|receiver)\s+(?:means\s+)?[:\"]?\s*([A-Za-z\s&\(\)]+?)(?:\"|,|;|and)"],
     None, None, None, None, None, None),
    ("NDA_Form", "confidentiality_period", "string", "Confidentiality", False,
     ["confidentiality period", "duration", "years", "maintain confidentiality"],
     [r"(?:for a period of|confidentiality period of|maintain.*for)\s+(\d+\s+years?|indefinite)"],
     ["5 years", "indefinite"], None, None, None, None, None),
    # Employment_Agreement (schema.py:144-177) -- no keywords/patterns
    ("Employment_Agreement", "employee_name", "string", "Parties", True,
     None, None, None, None, None, None, None, None),
    ("Employment_Agreement", "employer_name", "string", "Parties", True,
     None, None, None, None, None, None, None, None),
    ("Employment_Agreement", "start_date", "date", "Employment Period", True,
     None, None, None, None, None, None, None, None),
    ("Employment_Agreement", "position", "string", "Position", True,
     None, None, None, None, None, None, None, None),
    ("Employment_Agreement", "salary", "currency", "Compensation", True,
     None, None, ["USD 75000", "EUR 60000"], None, None, None, None, None),
    ("Employment_Agreement", "vacation_days", "number", "Benefits", False,
     None, None, None, 0.0, 365.0, None, None, None),
    # Service_Form (engine-registered)
    ("Service_Form", "contact_email", "email", "Contact", True,
     ["contact email", "email"], None, None, None, None, None, None, None),
    ("Service_Form", "agreed", "boolean", "Terms", False,
     ["agreed"], None, None, None, None, None, None, None),
    ("Service_Form", "service_fee", "currency", "Fees", True,
     None, [r"(?:fee|price)\s*[:=]\s*([A-Z]{3}\s+[\d,]+(?:\.\d{2})?)"],
     None, None, None, None, None, None),
    ("Service_Form", "support_days", "number", "Support", False,
     ["support days"], None, None, 0.0, 365.0, None, None, None),
    ("Service_Form", "priority_level", "string", "Priority", False,
     ["priority"], None, None, None, None, "^[a-z ]+$",
     ["gold", "silver", "bronze"], None),
    ("Service_Form", "start_date", "date", "Schedule", True,
     ["start date", "commencing"], None, None, None, None, None, None,
     "2020-01-01"),
]

# Golden records (FIXTURES.md A5; evaluation/evaluator.py:225-245 shape).
GROUND_TRUTH_COLS = ["doc_id", "field_name", "true_value"]
GROUND_TRUTH_ROWS: list[tuple] = [
    (1, "effective_date", "March 15, 2021"),
    (1, "termination_notice", "30 days written notice"),
    (1, "governing_law", "State of California"),
    (1, "disclosing_party", "Acme Corporation"),
    (1, "receiving_party", "Beta LLC"),
    (1, "confidentiality_period", "5 years"),
    (2, "effective_date", "2021-07-01"),
    (2, "termination_notice", None),
    (2, "governing_law", "New York"),
    (2, "disclosing_party", "Gamma Inc"),
    (2, "receiving_party", "Delta Co"),
    (2, "confidentiality_period", "indefinite"),
    (3, "employee_name", "John Smith"),
    (3, "employer_name", "Omega Corp"),
    (3, "start_date", "2022-03-01"),
    (3, "position", "Engineer"),
    (3, "salary", "USD 75000"),
    (3, "vacation_days", "25"),
    (4, "contact_email", "alice@example.com"),
    (4, "agreed", "true"),
    (4, "service_fee", "USD 1,200.50"),
    (4, "support_days", "400"),
    (4, "priority_level", "gold"),
    (4, "start_date", "2020-01-01"),
]
