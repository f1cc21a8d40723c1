"""X7/W1 — document-holder-name extraction with position ranking, native.

Mirrors ``extract_document_holder_name`` (reference:
src/document_parser.py:507-548): six anchored name regexes + NER PERSON
union, dedup, plausibility filter (>= 2 words, length > 4), then score by
earliest text position ``max(0, 1 - pos/len)`` and sort descending — a
within-row top-k (SURVEY.md §2.5 W1): ``transform`` → ``array_sort`` →
``element_at`` instead of an explode/window shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .ner import entity_matches

HOLDER_PATTERNS = [
    r"(?i)(?:name|holder|account holder|contact):\s*([A-Z][a-z]+(?:\s+[A-Z][a-z]+)+)",
    r"(?i)(?:mr\.|mrs\.|ms\.|dr\.)\s+([A-Z][a-z]+(?:\s+[A-Z][a-z]+)+)",
    r"(?i)prepared by:\s*([A-Z][a-z]+(?:\s+[A-Z][a-z]+)+)",
    r"(?i)issued to:\s*([A-Z][a-z]+(?:\s+[A-Z][a-z]+)+)",
    r"(?i)attention:\s*([A-Z][a-z]+(?:\s+[A-Z][a-z]+)+)",
    r"(?i)attn:\s*([A-Z][a-z]+(?:\s+[A-Z][a-z]+)+)",
]


def holder_matches(text: Column) -> Column:
    """ARRAY<STRING> of the six anchored patterns' captures, in pattern
    order."""
    return F.concat(
        *[
            F.coalesce(F.regexp_extract_all(text, F.lit(p), 1), F.array())
            for p in HOLDER_PATTERNS
        ]
    )


def holder_names_from(text: Column, holder: Column, persons: Column) -> Column:
    """STRUCT<candidate_names ARRAY<STRING>, primary_name STRING> from
    ``holder_matches(text)`` and the PERSON ``entity_matches`` array."""
    all_names = F.array_distinct(F.concat(holder, persons))
    filtered = F.filter(
        all_names,
        lambda n: (F.size(F.split(F.trim(n), r"\s+")) >= 2) & (F.length(n) > 4),
    )
    # score = max(0, 1 - pos/len) with 0-based pos; not-found -> 0
    scored = F.transform(
        filtered,
        lambda n, i: F.struct(
            F.when(
                F.instr(text, n) > 0,
                F.greatest(
                    F.lit(0.0),
                    F.lit(1.0)
                    - (F.instr(text, n) - 1).cast("double") / F.length(text),
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("score"),
            i.alias("idx"),
            n.alias("name"),
        ),
    )
    # Equal scores tie-break on original position: Spark's comparator sort
    # is not guaranteed stable, while the reference semantics (Python
    # sorted()) are — pinning by idx makes primary_name deterministic.
    ranked = F.array_sort(
        scored,
        lambda l, r: F.when(l["score"] > r["score"], -1)
        .when(l["score"] < r["score"], 1)
        .when(l["idx"] < r["idx"], -1)
        .when(l["idx"] > r["idx"], 1)
        .otherwise(0),
    )
    candidates = F.transform(ranked, lambda s: s["name"])
    primary = F.try_element_at(candidates, F.lit(1))
    return F.struct(
        candidates.alias("candidate_names"), primary.alias("primary_name")
    )


def holder_names_struct(text: Column) -> Column:
    return holder_names_from(text, holder_matches(text), entity_matches(text, "PERSON"))
