"""X1/X3 — per-doc-type regex field extraction, fully native.

The pattern dictionary mirrors the reference's (reference:
src/document_parser.py:58-105) with Java-regex translations:

* ``re.IGNORECASE`` becomes an embedded ``(?i)`` prefix;
* Python ``\\Z`` becomes Java ``\\z`` (absolute end of input);
* the two-capture-group ``parties`` pattern extracts group 1 only
  (``regexp_extract_all`` is single-group; the reference's tuple-valued
  output cannot be represented in ARRAY<STRING> — deviation documented in
  the oracle too, so fixture comparison is apples-to-apples);
* group-less patterns (``zip_code``) extract group 0.

Application semantics match ``extract_with_patterns`` (reference:
src/document_parser.py:402-414): findall per field, drop fields with no
matches, dedup. The reference dedups via ``list(set(...))`` whose order is
PYTHONHASHSEED-dependent (SURVEY.md §5.4); here ``array_distinct`` keeps
first-occurrence order and tests compare order-insensitively.

Adversarial-input guards (deviations the reference NEEDS — its own regexes
are superlinear on crawl-scale degenerate lines; measured in
tests/test_hostile_payloads.py):

* ``email`` carries a leading negative lookbehind on its own class: without
  it every position inside a long letter run re-consumes the remainder —
  O(n²), minutes per 200 KB single-token line. For any email preceded by a
  delimiter the guard is exact (an in-run start would imply a longer
  leftmost match, which findall already prefers). Known deviation: two
  emails ABUTTING with no delimiter (``a@b.com2@c.net``) — the reference's
  findall resumes after the first match and also returns ``2@c.net``; the
  lookbehind sees the consumed ``m`` and suppresses it. Like the address
  bounds, accepted: the suppressed "email" is a torn fragment of a
  degenerate token, and the oracle mirrors the guard.
* ``address`` bounds its inner spans (``[\\w\\s]{1,100}``,
  ``[A-Za-z\\s]{1,60}``, street number ≤6 digits, digit-run lookbehind) —
  the unbounded original's overlapping classes backtrack superlinearly
  (measured 28 s on ONE 32 KB digit+word line). Only degenerate >100-char
  "addresses" change behavior; the oracle mirrors the bounds.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .ner import entity_matches

# (field, java_pattern, group_index) per doc type
PATTERNS: dict[str, list[tuple[str, str, int]]] = {
    "invoice": [
        ("invoice_number", r"(?i)(?:invoice|inv)\.?\s*#?\s*([A-Z0-9-]+)", 1),
        ("date", r"(?i)(?:date|invoice date):?\s*(\d{1,2}[/-]\d{1,2}[/-]\d{2,4})", 1),
        ("due_date", r"(?i)(?:due date|due):?\s*(\d{1,2}[/-]\d{1,2}[/-]\d{2,4})", 1),
        ("total_amount", r"(?i)(?:total|amount due|balance):?\s*(\$\d+(?:\.\d{2})?)", 1),
        ("tax", r"(?i)(?:tax|vat):?\s*(\$\d+(?:\.\d{2})?)", 1),
        ("first_name", r"(?i)(?:first name|given name):?\s*([A-Z][a-z]+)", 1),
        ("last_name", r"(?i)(?:last name|surname|family name):?\s*([A-Z][a-z]+)", 1),
        ("email", r"(?i)((?<![a-zA-Z0-9._%+-])[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,})", 1),
        ("product_id", r"(?i)(?:product id|product code|item #):?\s*([A-Z0-9-]+)", 1),
        ("qty", r"(?i)(?:quantity|qty):?\s*(\d+)", 1),
        ("amount", r"(?i)(?:amount|price):?\s*(\$\d+(?:\.\d{2})?)", 1),
        ("invoice_date", r"(?i)(?:invoice date|date issued):?\s*(\d{1,2}[/-]\d{1,2}[/-]\d{2,4})", 1),
        ("address", r"(?i)((?<!\d)\d{1,6}\s+[\w\s]{1,100},?\s*[A-Za-z\s]{1,60},?\s*[A-Z]{2}\s*\d{5})", 1),
        ("city", r"(?i)(?:city):?\s*([A-Za-z\s]+)(?=\s*[,]|\s*[A-Z]{2})", 1),
        ("stock_code", r"(?i)(?:stock code|sku):?\s*([A-Z0-9-]+)", 1),
        ("job", r"(?i)(?:job|project|work order):?\s*([A-Z0-9-]+)", 1),
    ],
    "receipt": [
        ("date", r"(?i)(?:date):?\s*(\d{1,2}[/-]\d{1,2}[/-]\d{2,4})", 1),
        ("total", r"(?i)(?:total|amount):?\s*(\$\d+(?:\.\d{2})?)", 1),
        ("payment_method", r"(?i)(?:payment method|paid with):?\s*([A-Za-z\s]+)", 1),
    ],
    "contract": [
        ("contract_id", r"(?i)(?:contract|agreement)\s*#?\s*([A-Z0-9-]+)", 1),
        ("date", r"(?i)(?:date|effective date):?\s*(\d{1,2}[/-]\d{1,2}[/-]\d{2,4})", 1),
        ("parties", r"(?i)(?:between|parties):?\s*([A-Za-z0-9\s,&]+)(?:\s+and\s+)(?:[A-Za-z0-9\s,&]+)", 1),
        ("amount", r"(?i)(?:amount|value):?\s*(\$\d+(?:\.\d{2})?)", 1),
        ("term", r"(?i)(?:term|duration):?\s*(\d+\s+(?:years?|months?|days?))", 1),
        ("buyer", r"(?i)(?:buyer|client):?\s*([A-Za-z0-9\s,&]+)", 1),
        ("supplier", r"(?i)(?:supplier|vendor):?\s*([A-Za-z0-9\s,&]+)", 1),
    ],
    "contact": [
        ("email", r"(?i)((?<![a-zA-Z0-9._%+-])[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,})", 1),
        ("phone", r"(?i)(\+?\d{1,3}[-.\s]?\(?\d{3}\)?[-.\s]?\d{3}[-.\s]?\d{4})", 1),
        ("website", r"(?i)(https?://[^\s]+)", 1),
        ("name", r"(?i)(?:name|contact):?\s*([A-Z][a-z]+\s+[A-Z][a-z]+)", 1),
        ("company", r"(?i)(?:company|firm|organization):?\s*([A-Za-z0-9\s&.,]+)", 1),
        ("address", r"(?i)((?<!\d)\d{1,6}\s+[\w\s]{1,100},?\s*[A-Za-z\s]{1,60},?\s*[A-Z]{2}\s*\d{5})", 1),
        ("zip_code", r"(?i)\b\d{5}(?:-\d{4})?\b", 0),
    ],
    "general": [
        ("currency", r"(?i)(\$\d+(?:,\d{3})*(?:\.\d{2})?)", 1),
        ("percentage", r"(?i)((?<!\d)\d+(?:\.\d+)?%)", 1),
        ("date", r"(?i)(\d{1,2}[/-]\d{1,2}[/-]\d{2,4})", 1),
    ],
}


def _matches(text: Column, pattern: str, group: int) -> Column:
    return F.coalesce(F.regexp_extract_all(text, F.lit(pattern), group), F.array())


def field_matches(text: Column, doc_type: str) -> dict[str, Column]:
    """Every match per field of one doc type, duplicates kept, in
    declaration order."""
    return {f: _matches(text, p, g) for f, p, g in PATTERNS[doc_type]}


def fields_map(matches: dict[str, Column]) -> Column:
    """MAP<STRING, ARRAY<STRING>> of deduped matches, keeping only fields
    that matched (reference: src/document_parser.py:409-412)."""
    keys = F.array(*[F.lit(f) for f in matches])
    vals = F.array(*[F.array_distinct(v) for v in matches.values()])
    m = F.map_from_arrays(keys, vals)
    return F.map_filter(m, lambda _, v: F.size(v) > 0)


def patterns_map_for(text: Column, doc_type: str) -> Column:
    return fields_map(field_matches(text, doc_type))


def enrich_invoice_patterns(base: Column, persons: Column, gpes: Column) -> Column:
    """X3 — invoice NER backfill (reference: ``extract_invoice_details``,
    src/document_parser.py:416-441): the first PERSON entity with ≥2 name
    parts fills missing ``first_name``/``last_name``; GPE entities fill a
    missing ``city``. ``persons``/``gpes`` are the (non-deduped) NER match
    arrays, mirroring the reference's entity lists."""
    two_part = F.filter(persons, lambda p: F.size(F.split(F.trim(p), r"\s+")) >= 2)
    fp = F.try_element_at(two_part, F.lit(1))
    fp_parts = F.split(F.trim(fp), r"\s+")
    none = F.create_map().cast("map<string,array<string>>")

    def enrich(b: Column) -> Column:
        with_first = F.when(
            fp.isNotNull() & ~F.map_contains_key(b, F.lit("first_name")),
            F.create_map(F.lit("first_name"), F.array(F.try_element_at(fp_parts, F.lit(1)))),
        ).otherwise(none)
        with_last = F.when(
            fp.isNotNull() & ~F.map_contains_key(b, F.lit("last_name")),
            F.create_map(F.lit("last_name"), F.array(F.try_element_at(fp_parts, F.lit(-1)))),
        ).otherwise(none)
        with_city = F.when(
            (F.size(gpes) > 0) & ~F.map_contains_key(b, F.lit("city")),
            F.create_map(F.lit("city"), gpes),
        ).otherwise(none)
        return F.map_concat(b, with_first, with_last, with_city)

    # a one-element transform binds ``base`` once: each plain reference to
    # it would run every invoice regex again
    return F.try_element_at(F.transform(F.array(base), enrich), F.lit(1))


def patterns_from(
    text: Column,
    doc_type: Column,
    contact: dict[str, Column],
    persons: Column,
    gpes: Column,
) -> Column:
    """Doc-type-dispatched pattern extraction; unknown types fall back to
    'general' (reference: src/document_parser.py:406-407). Invoices get the
    X3 NER backfill (reference: src/document_parser.py:778-781 dispatches
    invoices through extract_invoice_details).

    ``contact`` is ``field_matches(text, "contact")``; invoice fields with
    the same name and pattern (email, address) read it instead of scanning
    the text again. ``persons``/``gpes`` are ``entity_matches`` arrays."""
    expr = patterns_map_for(text, "general")
    for dt in ("receipt", "contract"):
        expr = F.when(doc_type == dt, patterns_map_for(text, dt)).otherwise(expr)
    expr = F.when(doc_type == "contact", fields_map(contact)).otherwise(expr)
    shared = set(PATTERNS["contact"])
    invoice = {
        f: contact[f] if (f, p, g) in shared else _matches(text, p, g)
        for f, p, g in PATTERNS["invoice"]
    }
    invoice_map = enrich_invoice_patterns(fields_map(invoice), persons, gpes)
    return F.when(doc_type == "invoice", invoice_map).otherwise(expr)


def patterns_map(text: Column, doc_type: Column) -> Column:
    return patterns_from(
        text,
        doc_type,
        field_matches(text, "contact"),
        entity_matches(text, "PERSON"),
        entity_matches(text, "GPE"),
    )
