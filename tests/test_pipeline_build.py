"""The extract plan's build path: the column expressions are built once per
JVM and reused, and each regex that several operators share runs in
exactly one place of the plan."""

from __future__ import annotations

import gc
from collections import Counter

from py4j.java_gateway import GatewayClient

from plan_tree import class_name, expression_nodes
from test_real_library_gates import _make_fake_nlp_factory
from llm_document_parser_spark.datagen import generate_pages
from llm_document_parser_spark.operators.contacts import CONTACT_BLOCK_PATTERNS
from llm_document_parser_spark.operators.names import HOLDER_PATTERNS
from llm_document_parser_spark.operators.ner import CUE_PATTERNS, NER_PATTERNS
from llm_document_parser_spark.operators.patterns import PATTERNS
from llm_document_parser_spark.pipeline import extract_pipeline

SHARED_PATTERNS = (
    {p for p, _ in NER_PATTERNS.values()}
    | {p for cues in CUE_PATTERNS.values() for p, _ in cues}
    | {p for _, p, _ in PATTERNS["contact"]}
    | set(CONTACT_BLOCK_PATTERNS)
    | set(HOLDER_PATTERNS)
)


def _rows(df):
    return sorted(df.drop("processing_time").collect(), key=lambda r: r["url"])


def test_repeat_build_makes_few_py4j_round_trips(spark, monkeypatch):
    pages = generate_pages(spark, 4, seed=3, partitions=1)
    extract_pipeline(pages)
    sent = []
    send = GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    # a collection inside the call would add one release command for each
    # unreachable JVM object left by earlier tests
    gc.collect()
    gc.disable()
    try:
        extract_pipeline(pages)
    finally:
        gc.enable()
        monkeypatch.undo()
    # building every column expression again takes thousands
    assert len(sent) < 100, len(sent)


def test_each_shared_regex_is_one_plan_node(spark):
    pages = generate_pages(spark, 4, seed=3, partitions=1)
    plan = extract_pipeline(pages)._jdf.queryExecution().optimizedPlan()
    regexes = Counter(
        kids[1][0]["value"]
        for node, kids in expression_nodes(plan)
        if class_name(node) == "RegExpExtractAll"
    )
    # includes the invoice email/address patterns: they are contact ones
    assert {p: regexes[p] for p in SHARED_PATTERNS} == {p: 1 for p in SHARED_PATTERNS}


def test_repeat_builds_return_identical_rows(spark):
    pages = generate_pages(spark, 30, seed=5, partitions=2)
    assert _rows(extract_pipeline(pages)) == _rows(extract_pipeline(pages))
    factory = _make_fake_nlp_factory()
    spacy = [
        _rows(extract_pipeline(pages, use_spacy_ner=True, nlp_factory=factory))
        for _ in range(2)
    ]
    assert spacy[0] == spacy[1]
    assert len(spacy[0]) == 30
