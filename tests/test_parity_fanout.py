"""Reference-parity mode (``dedupe_parse=False``) end to end.

The kernels run once per distinct ``(relation, tail)`` in both modes; parity
mode only fans the per-key extractions out to the scored rows with a join,
so each ``matched`` row carries the reference's per-line sid
``"{a}-{rel}-{b}|{seq}"`` (generation_parser.py:137).  These tests pin that
fan-out against the dedupe run and against a per-row driver-side oracle.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

N_PAGES = 150
N_ITEMS = 40
ROW_SID = re.compile(r"^(.+)-([A-Za-z]+)-(.+)\|(\d+)$")


@pytest.fixture(scope="module")
def spark():
    from folkscope_spark.session import get_spark

    s = get_spark(app="parity-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.catalog.clearCache()


@pytest.fixture(scope="module")
def runs(spark):
    from folkscope_spark.pipeline import run_pipeline

    return {
        mode: run_pipeline(
            spark, out_dir=None, n_pages=N_PAGES, n_items=N_ITEMS, max_extra=2,
            with_concepts=True, with_canonicalize=True, dedupe_parse=dedupe,
        )
        for mode, dedupe in (("dedupe", True), ("parity", False))
    }


def _set(df, cols):
    return {tuple(r) for r in df.select(*cols).collect()}


def test_modes_give_the_same_triples(runs):
    cols = ["subj", "pred", "obj", "score"]
    for name in ("triples", "concept_triples"):
        want = _set(runs["dedupe"][name], cols)
        assert want, f"no {name} - fixture too small"
        assert _set(runs["parity"][name], cols) == want, name


def test_modes_give_the_same_events(runs):
    cols = ["eid", "relation", "frequency"]
    want = _set(runs["dedupe"]["events"], cols)
    assert want
    assert _set(runs["parity"]["events"], cols) == want


def test_parity_matched_rows_are_per_line(runs):
    matched = runs["parity"]["matched"]
    rows = matched.select("sid", "relation", "frequency").collect()
    assert rows
    for r in rows:
        m = ROW_SID.match(r["sid"])
        assert m and m.group(2) == r["relation"], r["sid"]
        assert r["frequency"] == 1.0
    per_group = _set(matched.groupBy("eid", "relation").count(),
                     ["eid", "relation", "count"])
    n_sentences = _set(runs["parity"]["events"], ["eid", "relation", "n_sentences"])
    assert per_group == n_sentences


def test_parity_matched_equals_per_row_oracle(runs):
    """Each scored line, parsed and matched on its own on the driver
    (clean -> parse -> P13 guard -> extract with its relation's mined
    patterns), yields exactly the eids the fan-out assigns to its sid."""
    from folkscope_spark.graphs import graph_of
    from folkscope_spark.match import extract_from_sentence
    from folkscope_spark.nlp import parse_sentence
    from folkscope_spark.textnorm import clean_text

    res = runs["parity"]
    mined = res["mined"]
    prepared = {
        rel: [(p, graph_of(p)) for p in info["patterns"]]
        for rel, info in mined.items()
    }

    def eids(rel, tail):
        cleaned = clean_text(tail)
        if not cleaned or rel not in prepared:
            return frozenset()
        p = parse_sentence(cleaned)
        if not p["dependencies"]:  # P13 validity guard
            return frozenset()
        return frozenset(
            ev["eid"] for ev in extract_from_sentence(p, prepared[rel])
        )

    sid = F.concat_ws("|", F.concat_ws("-", "item_a", "relation", "item_b"), "seq_no")
    lines = res["scored"].select(sid.alias("sid"), "relation", "tail").collect()
    by_content = {(r["relation"], r["tail"]) for r in lines}
    oracle = {key: eids(*key) for key in by_content}
    want = {
        r["sid"]: oracle[(r["relation"], r["tail"])]
        for r in lines
        if oracle[(r["relation"], r["tail"])]
    }
    assert want, "oracle extracted nothing - fixture too small"

    got: dict[str, set] = {}
    for r in res["matched"].select("sid", "eid").collect():
        got.setdefault(r["sid"], set()).add(r["eid"])
    assert {k: frozenset(v) for k, v in got.items()} == want
