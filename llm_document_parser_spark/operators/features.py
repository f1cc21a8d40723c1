"""A7 — per-document feature counts, native (reference:
src/document_parser.py:729-750 ``extract_features``).

The four regex counts are case-sensitive (the reference's ``re.findall``
carries no flag there); person/org counts are occurrence counts (not
deduped) over the NER patterns, matching the reference's ``len([ent ...])``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .ner import entity_matches

_EMAIL = r"(?<![a-zA-Z0-9._%+-])[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PHONE = r"(\+?\d{1,3}[-.\s]?\(?\d{3}\)?[-.\s]?\d{3}[-.\s]?\d{4})"
_CURRENCY = r"(\$\d+(?:,\d{3})*(?:\.\d{2})?)"
_DATE = r"(\d{1,2}[/-]\d{1,2}[/-]\d{2,4})"


def _count(text: Column, pattern: str) -> Column:
    return F.size(
        F.coalesce(F.regexp_extract_all(text, F.lit(pattern), 0), F.array())
    ).cast("long")


def features_from(text: Column, persons: Column, orgs: Column) -> Column:
    """Feature struct from the PERSON and ORG ``entity_matches`` arrays."""
    return F.struct(
        _count(text, _EMAIL).alias("email_count"),
        _count(text, _PHONE).alias("phone_count"),
        _count(text, _CURRENCY).alias("currency_count"),
        _count(text, _DATE).alias("date_count"),
        F.size(persons).cast("long").alias("person_count"),
        F.size(orgs).cast("long").alias("org_count"),
        F.length(text).cast("long").alias("text_length"),
    )


def features_struct(text: Column) -> Column:
    return features_from(
        text, entity_matches(text, "PERSON"), entity_matches(text, "ORG")
    )
