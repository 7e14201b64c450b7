"""Seeded document generator for the ``doc_etl`` workload.

Every document is one of the four fixture form templates
(``fixtures.BLOCK_ROWS``: two NDA shapes, an employment agreement and a
service form) with seeded field values, plus 0-3 seeded filler paragraphs
of varying length appended on a new page. Filler words come from a
vocabulary that contains no schema keyword, no pattern trigger and no
section-number shape, so filler never changes what the extraction cascade
finds; it only changes how much text every stage has to move.

For each document the generator also emits:

- the ground-truth rows (the input of ``evaluate``);
- the expected recovered form rows (what ``forms_json`` must hold);
- the expected per-document evaluation report (what ``eval_report`` must
  hold), computed here in plain Python from the two lists above.

A batch is written as three parquet files (blocks, doc_forms, truth); the
expected values stay in memory.
"""

from __future__ import annotations

import decimal
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from multiagent_form_schema_etl_spark.fixtures import SCHEMA_ROWS

BLOCK_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("page", pa.int64()), ("block_idx", pa.int64()),
    ("text", pa.string()), ("label", pa.string()),
    ("confidence", pa.float64()), ("source", pa.string()),
    ("x0", pa.float64()), ("y0", pa.float64()),
    ("x1", pa.float64()), ("y1", pa.float64())])

MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]
# No name may contain "and" (the party/law patterns stop at it) or a schema
# keyword; asserted below.
STATES = ["California", "Texas", "Oregon", "Nevada", "Ohio", "Utah",
          "Vermont", "Alaska", "Arizona", "Florida", "Georgia", "Kansas",
          "Maine", "Montana", "Wyoming", "Iowa", "New York", "New Jersey"]
NAME_HEADS = ["Acme", "Beta", "Gamma", "Delta", "Omega", "Zenith", "Orbit",
              "Cobalt", "Summit", "Harbor", "Pinnacle", "Vertex", "Nimbus",
              "Quartz", "Ember", "Falcon", "Juniper", "Kestrel"]
NAME_TAILS = ["Corporation", "LLC", "Inc", "Co", "Group", "Labs",
              "Systems", "Partners", "Holdings", "Works"]
FIRST = ["John", "Maria", "Wei", "Amara", "Lukas", "Priya", "Tomas", "Sofia"]
LAST = ["Smith", "Garcia", "Chen", "Okafor", "Novak", "Rao", "Berg", "Silva"]
POSITIONS = ["Engineer", "Analyst", "Designer", "Manager", "Chemist"]
TIERS = ["platinum", "diamond", "copper", "silver", "bronze", "gold"]
FILLER = ["alpha", "beacon", "cedar", "delta", "ember", "fjord", "garnet",
          "harbor", "iris", "jasper", "kettle", "lumen", "meadow", "nectar",
          "orchid", "pepper", "quiver", "raven", "saddle", "timber", "umber",
          "velvet", "willow", "yonder", "zephyr", "copper", "marble",
          "ribbon", "thistle", "walnut", "basil", "clover", "dune", "ginger"]

_SCHEMA_WORDS = ("effective", "termination", "notice", "governing", "governed",
                 "jurisdiction", "laws", "law", "subject", "disclos",
                 "discloser", "provider", "owner", "receiv", "recipient",
                 "confidential", "duration", "years", "period", "maintain",
                 "contact", "email", "agreed", "fee", "price", "support",
                 "days", "priority", "start", "commencing", "and", "for",
                 "article", "section")
for _w in FILLER:
    assert not any(k in _w for k in _SCHEMA_WORDS), _w
# names sit before the one ``maintain.*for`` span, so only "for" may occur
for _w in NAME_HEADS + NAME_TAILS + STATES + TIERS:
    assert not any(k in _w.lower() for k in _SCHEMA_WORDS if k != "for"), _w

FORM_OF = {"nda1": "NDA_Form", "nda2": "NDA_Form",
           "emp": "Employment_Agreement", "svc": "Service_Form"}
REQUIRED = {(r[0], r[1]): r[4] for r in SCHEMA_ROWS}  # (form, field) -> required


def _company(rng: random.Random) -> str:
    return f"{rng.choice(NAME_HEADS)} {rng.choice(NAME_TAILS)}"


def _iso(rng: random.Random) -> str:
    return f"{rng.randint(2015, 2025)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


def _template(kind: str, rng: random.Random):
    """(blocks, truth, forms) for one document of ``kind``: ``blocks`` are
    (page, text, label) triples, ``truth`` maps field -> true value and
    ``forms`` maps field -> the (value, method) the pipeline must emit."""
    P = "paragraph"
    if kind == "nda1":
        a, b = _company(rng), _company(rng)
        state = rng.choice(STATES)
        date = f"{rng.choice(MONTHS)} {rng.randint(1, 28)}, {rng.randint(2015, 2025)}"
        notice, years = rng.randint(2, 120), rng.randint(2, 9)
        blocks = [
            (0, "Non-Disclosure Agreement", "heading"),
            (0, "1. Parties", P),
            (0, f"The disclosing party means {a}, and the receiving party means {b}, for this deal.", P),
            (0, "2. Term", P),
            (0, f"2.1 This agreement is effective on {date} and remains in force.", P),
            (0, "3. Termination", P),
            (1, f"Either side may end it with termination notice period : {notice} days written notice required.", P),
            (1, "4. Governing Law", P),
            (1, f"This agreement shall be governed by the laws of the State of {state}, without regard to conflicts.", P),
            (1, "5. Confidentiality", "list_item"),
            (1, f"The recipient shall maintain confidentiality for a period of {years} years after expiry.", P),
            (1, "A. Appendix materials are listed in the attachment.", P),
            (2, "(3) Delivery terms follow the schedule strictly.", P),
            (2, "   ", P),
            (3, "Sig.", "caption"),
        ]
        truth = {"effective_date": date,
                 "termination_notice": f"{notice} days written notice",
                 "governing_law": f"State of {state}",
                 "disclosing_party": a, "receiving_party": b,
                 "confidentiality_period": f"{years} years"}
        forms = {"effective_date": (date, "regex"),
                 "termination_notice": (f"{notice} days written notice", "regex"),
                 "governing_law": (f"laws of the State of {state}", "regex"),
                 "disclosing_party": (a, "regex"),
                 "receiving_party": (b, "regex"),
                 "confidentiality_period": (f"{years} years", "regex")}
    elif kind == "nda2":
        a, b = _company(rng), _company(rng)
        state, date, notice = rng.choice(STATES), _iso(rng), rng.randint(2, 120)
        blocks = [
            (0, "Mutual NDA", "heading"),
            (0, "1. Introduction", P),
            (0, f"This mutual agreement is effective as of {date} between the owner : {a}, and others.", P),
            (0, f"All disputes are subject to the {state} jurisdiction, as decided.", P),
            (1, "Article 5 Compensation", "heading"),
            (1, f"Payment details are described here fully. Payment notice period : {notice} days for invoices.", P),
            (1, "The confidentiality period of indefinite applies.", P),
        ]
        truth = {"effective_date": date, "termination_notice": None,
                 "governing_law": state, "disclosing_party": a,
                 "receiving_party": b, "confidentiality_period": "indefinite"}
        forms = {"effective_date": (date, "regex"),
                 "termination_notice": (f"{notice} days", "regex"),
                 "governing_law": (f"{state} jurisdiction", "regex"),
                 "disclosing_party": (a, "regex"),
                 "receiving_party": (None, None),
                 "confidentiality_period": ("indefinite", "regex")}
    elif kind == "emp":
        name = f"{rng.choice(FIRST)} {rng.choice(LAST)}"
        employer, position, date = _company(rng), rng.choice(POSITIONS), _iso(rng)
        salary, vacation = rng.randint(40, 200) * 1000, rng.randint(10, 40)
        blocks = [
            (0, "Employment Agreement", "heading"),
            (0, "1. Parties", P),
            (0, f"The employee {name} joins {employer} as {position} on {date}.", P),
            (0, "2. Compensation", P),
            (0, f"Salary shall be USD {salary} per year with {vacation} vacation days.", P),
            (1, "Section 3 Benefits", "heading"),
            (1, f"Vacation allowance is {vacation} days annually.", P),
        ]
        truth = {"employee_name": name, "employer_name": employer,
                 "start_date": date, "position": position,
                 "salary": f"USD {salary}", "vacation_days": str(vacation)}
        # this form's schema has no keywords or patterns: nothing extracts
        forms = {f: (None, None) for f in truth}
    else:  # svc
        user = rng.choice(FIRST).lower() + str(rng.randint(1, 99))
        host = rng.choice(NAME_HEADS).lower()
        fee = f"USD {rng.randint(100000, 999999) / 100:,.2f}"
        support, tier = rng.randint(100, 500), rng.choice(TIERS)
        blocks = [
            (0, "Service Agreement", "heading"),
            (0, "1. Contact", P),
            (0, f"Our contact email : {user}@{host}.com is primary.", P),
            (0, "2. Terms", P),
            (0, "The customer agreed yes to all terms gladly.", P),
            (0, "3. Fees", P),
            (0, f"Service fee : {fee} due monthly and support days : {support} per year.", P),
            (0, "4. Priority", P),
            (0, f"Priority : {tier} tier selected by client.", P),
        ]
        truth = {"contact_email": f"{user}@{host}.com", "agreed": "true",
                 "service_fee": fee, "support_days": str(support),
                 "priority_level": "gold", "start_date": "2020-01-01"}
        forms = {"contact_email": (f"{user}@{host}", "keyword"),
                 "agreed": ("false", "keyword"),
                 "service_fee": (fee, "regex"),
                 "support_days": (str(support), "keyword"),
                 "priority_level": (f"{tier} tier selected by client", "keyword"),
                 "start_date": ("2020-01-01", "recovery_default")}
    return blocks, truth, forms


def _round3(x: float) -> float:
    """Spark's round(x, 3): HALF_UP on the double's decimal form."""
    return float(decimal.Decimal(repr(x)).quantize(
        decimal.Decimal("0.001"), rounding=decimal.ROUND_HALF_UP))


def eval_row(forms: dict, truth: dict) -> tuple:
    """(precision, recall, f1, exact_accuracy) of one document, by the
    rules of ``DocumentPipeline.score``/``metrics`` (full outer join on
    field name, trimmed case-insensitive exact match)."""
    tp = fp = fn = exact = total = 0
    for f in set(forms) | set(truth):
        p = forms.get(f, (None, None))[0]
        t = truth.get(f)
        total += 1
        if p is not None and t is not None:
            tp += 1
            exact += p.strip().lower() == t.strip().lower()
        elif p is not None:
            fp += 1
        elif t is not None:
            fn += 1
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    acc = exact / total if total else 0.0
    return tuple(_round3(x) for x in (prec, rec, f1, acc))


def make_batch(seed: int, batch: int, n_docs: int, out_dir: str) -> dict:
    """Write one batch of ``n_docs`` documents under ``out_dir`` (cached:
    an existing batch directory is reused) and return its expected
    outputs: ``forms`` = {(doc_id, field): (form, required, value, method)}
    and ``report`` = {doc_id: (precision, recall, f1, exact_accuracy)}."""
    rng = random.Random(f"doc_etl:{seed}:{batch}")
    cols = {k: [] for k in BLOCK_SCHEMA.names}
    doc_forms: list[tuple] = []
    truth_rows: list[tuple] = []
    forms: dict = {}
    report: dict = {}
    n_words = 0
    base = batch * n_docs
    for i in range(n_docs):
        doc_id = base + i + 1
        kind = rng.choice(("nda1", "nda2", "emp", "svc"))
        blocks, truth, fvals = _template(kind, rng)
        last_page = blocks[-1][0]
        for _ in range(rng.randint(0, 3)):
            words = [rng.choice(FILLER) for _ in range(rng.randint(8, 60))]
            blocks.append((last_page + 1, " ".join(words) + ".", "paragraph"))
        for idx, (page, text, label) in enumerate(blocks):
            ocr = label == "caption"
            y = 72.0 + 30.0 * (idx % 20)
            for k, v in (("doc_id", doc_id), ("page", page), ("block_idx", idx),
                         ("text", text), ("label", label),
                         ("confidence", 0.8 if ocr else 1.0),
                         ("source", "ocr" if ocr else "native"),
                         ("x0", None if ocr else 72.0),
                         ("y0", None if ocr else y),
                         ("x1", None if ocr else 540.0),
                         ("y1", None if ocr else y + 25.0)):
                cols[k].append(v)
            n_words += len([w for w in text.split(" ") if w])
        form = FORM_OF[kind]
        doc_forms.append((doc_id, form))
        truth_rows += [(doc_id, f, v) for f, v in truth.items()]
        for f, (v, m) in fvals.items():
            forms[(doc_id, f)] = (form, REQUIRED[(form, f)], v, m)
        report[doc_id] = eval_row(fvals, truth)
    if not os.path.exists(os.path.join(out_dir, "_DONE")):
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(pa.table(cols, schema=BLOCK_SCHEMA),
                       os.path.join(out_dir, "blocks.parquet"))
        pq.write_table(pa.table({"doc_id": [d for d, _ in doc_forms],
                                 "form_name": [f for _, f in doc_forms]},
                                schema=pa.schema([("doc_id", pa.int64()),
                                                  ("form_name", pa.string())])),
                       os.path.join(out_dir, "doc_forms.parquet"))
        pq.write_table(pa.table({"doc_id": [r[0] for r in truth_rows],
                                 "field_name": [r[1] for r in truth_rows],
                                 "true_value": [r[2] for r in truth_rows]},
                                schema=pa.schema([("doc_id", pa.int64()),
                                                  ("field_name", pa.string()),
                                                  ("true_value", pa.string())])),
                       os.path.join(out_dir, "truth.parquet"))
        open(os.path.join(out_dir, "_DONE"), "w").close()
    return {"dir": out_dir, "n_docs": n_docs, "n_blocks": len(cols["doc_id"]),
            "n_words": n_words, "forms": forms, "report": report}
