"""End-to-end extraction pipeline: pages DataFrame → results DataFrame.

The Spark restatement of the reference's ``parse_document`` (reference:
src/document_parser.py:752-813) — one declarative plan instead of a per-file
driver loop (reference: src/batch_processor.py:13-69):

  pages
    → doc_kind (native magic-bytes)                       [kind.py]
    → repartition by xxhash64(url) (+optional salt)       [skew balance]
    → payload_text_udf (Arrow pandas UDF: PDF/HTML/text)  [extract_udfs.py]
      → clean_text (native chain, X2)                     [textclean.py]
    → document_type (heuristic rules)                     [kind.py]
      + shared regex match arrays (one projection)        [operators/*]
    → patterns/contacts/names/entities/features (native)  [operators/*]
    → text_spans (native, from patterns)
    → results schema

The single pandas UDF is the only Python stage. Everything after it is JVM
work, but only the clean_text chain is whole-stage-codegen'd: higher-order
functions (``transform``/``filter``/``map_filter``/``array_sort``) are
interpreted, and a ``Project`` holding one falls out of whole-stage codegen.
In the executed plan that is each of the three projections after
clean_text (shared match arrays, operator assembly, text_spans).

The reference's 4× spaCy re-parse per document (reference:
src/document_parser.py:422,444,525,738) becomes one projection that runs each
regex several operators share exactly once per row: the six raw NER label
arrays, the seven contact-field arrays (which also serve the invoice branch,
whose email and address patterns are the same strings), the contact blocks
and the holder-name matches. The operators then assemble their outputs from
those columns, deduplicating where their spec says so. The projection stays
separate in the optimized plan because each of its columns is read more
than once, and Catalyst's CollapseProject does not inline such expressions;
inlined, every consumer would rescan the text, since subexpression
elimination does not look inside higher-order functions.

Building the plan's column expressions costs thousands of py4j round trips,
so they are built once per live JVM and reused: ``_STAGES`` is keyed on the
identity of ``SparkContext._jvm`` (a ``Column`` is a JVM object, valid only
in the JVM that made it) and on the NER path. Entries live as long as the
Python process; there are at most two per JVM.
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .operators import ner
from .operators.contacts import contact_blocks, contacts_from
from .operators.extract_udfs import payload_text_udf
from .operators.features import features_from
from .operators.kind import doc_kind_col, document_type_col
from .operators.names import holder_matches, holder_names_from
from .operators.ner import ENTITY_LABELS, entities_from, entity_matches, spacy_entities_stage
from .operators.patterns import PATTERNS, field_matches, patterns_from
from .operators.textclean import clean_text_col

RESULT_COLUMNS = [
    "url",
    "warc_ts",
    "doc_kind",
    "document_type",
    "extracted_text",
    "text_spans",
    "patterns",
    "contacts",
    "names",
    "entities",
    "features",
    "success",
    "error",
    "processing_time",
]


def text_spans_col(text: Column, patterns: Column) -> Column:
    """ARRAY<STRUCT<field,start,end>> — first-occurrence character span of
    each extracted pattern field's first value in the extracted text
    (0-based, end exclusive). Fields whose value doesn't occur verbatim are
    dropped."""
    # two-level transform so the O(text) instr scan runs ONCE per field:
    # HOF lambdas get no subexpression elimination, so a single-level
    # struct(start, end) would re-scan the text for the end position
    located = F.transform(
        F.map_entries(patterns),
        lambda e: F.struct(
            e["key"].alias("field"),
            (F.instr(text, F.try_element_at(e["value"], F.lit(1))) - 1)
            .cast("long")
            .alias("start"),
            F.length(F.try_element_at(e["value"], F.lit(1)))
            .cast("long")
            .alias("vlen"),
        ),
    )
    spans = F.transform(
        located,
        lambda s: F.struct(
            s["field"].alias("field"),
            s["start"].alias("start"),
            (s["start"] + s["vlen"]).alias("end"),
        ),
    )
    return F.filter(spans, lambda s: s["start"] >= 0)


_STAGES: dict[tuple[object, bool], tuple] = {}


def _build_stages(use_spacy_ner: bool) -> tuple[Column, Column, list[list[Column]]]:
    """(doc_kind column, repartition key, the column lists of the ``select``
    stages after the repartition) — see the module docstring."""
    text = F.col("extracted_text")
    star = F.col("*")
    ner_col = {lbl: F.col(f"_ner_{lbl}") for lbl in ENTITY_LABELS}
    contact_col = {f: F.col(f"_contact_{f}") for f, _, _ in PATTERNS["contact"]}
    blocks, holder = F.col("_contact_blocks"), F.col("_holder_names")

    matches = {
        "document_type": document_type_col(text),
        **{f"_ner_{lbl}": entity_matches(text, lbl) for lbl in ENTITY_LABELS},
        **{f"_contact_{f}": m for f, m in field_matches(text, "contact").items()},
        "_contact_blocks": contact_blocks(text),
        "_holder_names": holder_matches(text),
    }
    outputs = {
        "patterns": patterns_from(
            text, F.col("document_type"), contact_col, ner_col["PERSON"], ner_col["GPE"]
        ),
        "contacts": contacts_from(contact_col, blocks),
        "names": holder_names_from(text, holder, ner_col["PERSON"]),
        "features": features_from(text, ner_col["PERSON"], ner_col["ORG"]),
        "success": F.length(text) > 0,
        "error": F.when(
            F.length(text) == 0,
            F.lit("No text could be extracted from the document"),
        ),
        "processing_time": F.current_timestamp(),
    }
    if not use_spacy_ner:
        outputs["entities"] = entities_from(ner_col)
    spans = text_spans_col(text, F.col("patterns")).alias("text_spans")
    result = [
        spans if c == "text_spans" else F.col(c)
        for c in RESULT_COLUMNS
        if not (use_spacy_ner and c == "entities")
    ]
    extracted = clean_text_col(payload_text_udf(F.col("html"), F.col("doc_kind")))
    stages = [
        [F.col("url"), F.col("warc_ts"), F.col("doc_kind"), extracted.alias("extracted_text")],
        [star, *[c.alias(n) for n, c in matches.items()]],
        [star, *[c.alias(n) for n, c in outputs.items()]],
        result,
    ]
    return doc_kind_col(F.col("html")), F.xxhash64("url"), stages


def extract_pipeline(
    pages: DataFrame,
    repartition_to: int | None = None,
    use_spacy_ner: bool | None = None,
    nlp_factory=None,
) -> DataFrame:
    """Build the full extraction plan over a pages DataFrame.

    ``repartition_to``: explicit pre-UDF repartition width. At cluster scale
    this is set to ~2-3× total cores; pass None to keep scan partitioning
    (AQE still balances downstream shuffles). The repartition key is
    ``xxhash64(url)`` so hot hosts (zipfian skew) spread uniformly — the
    moral equivalent of salting the host key (SURVEY.md §4.2 item 2).

    ``use_spacy_ner``: None = auto (real spaCy NER when the library AND its
    model package are both installed — ``ner.spacy_model_available`` — rule-
    NER otherwise; a bare ``import spacy`` success without the model would
    otherwise OSError on every executor). The spaCy path adds a second Python
    stage AFTER the final projection — it sees only result columns, never
    the binary payload. Pattern backfill and feature person/org counts stay
    rule-based either way (they're part of the native projections).
    ``nlp_factory`` (executor-side model loader) implies the spaCy path and
    is how tests drive the seam without the library.
    """
    if use_spacy_ner is None:
        use_spacy_ner = nlp_factory is not None or ner.spacy_model_available()
    key = (SparkContext._jvm, use_spacy_ner)
    if key not in _STAGES:
        _STAGES[key] = _build_stages(use_spacy_ner)
    doc_kind, repartition_key, stages = _STAGES[key]

    df = pages.withColumn("doc_kind", doc_kind)
    if repartition_to:
        df = df.repartition(repartition_to, repartition_key)
    # select, not withColumns: withColumns ships its names and its columns
    # as two py4j lists, one round trip per element
    for cols in stages:
        df = df.select(*cols)
    if use_spacy_ner:
        df = spacy_entities_stage(
            df, text_col="extracted_text", out_col="entities", nlp_factory=nlp_factory
        )
        df = df.select(*RESULT_COLUMNS)
    return df
