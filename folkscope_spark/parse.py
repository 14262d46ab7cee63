"""parse_light — the deterministic parser stage (SURVEY.md §2.10).

Replaces the reference's port-sharded CoreNLP HTTP servers
(``/root/reference/src/pattern/generation_parser.py:152-164``,
``utils.py:217-299``) with the pure-Python kernel in :mod:`folkscope_spark.nlp`
run inside ``mapInPandas`` — each Arrow batch is parsed in-process, so
parallelism is Spark partitions instead of worker pools, and there is no
socket boundary.

Output schema is D6 (:data:`folkscope_spark.schemas.PARSED`) plus ``weight``,
one row per distinct ``(relation, tail)`` with the content key
``sid = md5(relation ␟ tail)``.  The reference's per-line id
``"{item_a}-{relation}-{item_b}|{row}"`` (``generation_parser.py:137``)
exists only on the parity pipeline's ``matched`` stage, which fans the
per-key extractions out to the scored rows with a join.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from .metrics import batch_timer
from .nlp import parse_sentence
from .schemas import PARSED
from .textnorm import clean_text

# PARSED + corpus-multiplicity weight of the (relation, tail) key
PARSED_W = T.StructType(
    PARSED.fields[:2] + [T.StructField("weight", T.DoubleType())] + PARSED.fields[2:]
)


def content_key() -> Column:
    """The parse stage's row key, ``md5(relation ␟ tail)``: every kernel
    result from parse onwards is a pure function of it."""
    return F.md5(F.concat_ws("\x1f", "relation", "tail"))


def parse_assertions(
    assertions: DataFrame, slim: bool = False, skip_words=None, kernel_acc=None,
) -> DataFrame:
    """assertions(relation, tail, ...) -> one parsed row per distinct
    (relation, tail).

    The cleaner runs first inside the same UDF (byte-contract P6); empty or
    unparsable rows are dropped (validity guard P13, pattern_filter.py:65).

    ``skip_words`` applies P8 (extractor.py:337-339,393-395): a sentence is
    dropped when its raw token set intersects the skip set — the reference's
    exact check (``set(tokens) & skip_words``, case-sensitive).  Default None
    mirrors the reference default (empty set — opt-in).

    Each distinct (relation, tail) is parsed once and carries ``weight`` =
    its corpus multiplicity: identical LLM continuations are common, so this
    cuts the hottest Python kernel by the duplication factor while keeping
    corpus-frequency semantics exact (downstream counts sum the weight;
    results re-attach to assertion rows by ``sid`` = :func:`content_key`).
    """
    src = (
        assertions.groupBy("relation", "tail")
        .count()
        .select(
            content_key().alias("sid"),
            "relation",
            "tail",
            F.col("count").cast("double").alias("weight"),
        )
    )

    # slim mode drops columns the matcher never reads (tokens, mentions,
    # text): at web scale the Arrow transfer + cache of the parsed table is
    # the dominant non-scaling cost, and these are its fattest columns.
    if slim:
        out_cols = ["sid", "relation", "weight", "pos_tags", "lemmas", "ners",
                    "dependencies"]
    else:
        out_cols = ["sid", "relation", "weight", "text", "tokens", "pos_tags",
                    "lemmas", "ners", "dependencies", "mentions"]
    schema = T.StructType([f for f in PARSED_W.fields if f.name in out_cols])

    skip = frozenset(skip_words) if skip_words else None

    def run(batches):
        for pdf in batches:
            # the timed block covers decoded-batch compute only; the yield is
            # outside so suspended time (Arrow encode/decode) never counts
            with batch_timer(kernel_acc):
                rows = []
                for sid, rel, tail, w in zip(
                    pdf["sid"], pdf["relation"], pdf["tail"], pdf["weight"]
                ):
                    cleaned = clean_text(tail)
                    if not cleaned:
                        continue
                    p = parse_sentence(cleaned)
                    if not p["dependencies"] or (
                        skip and set(p["tokens"]) & skip
                    ):  # P13 guard; P8 (extractor.py:393-395)
                        continue
                    p["dependencies"] = [
                        {"gov": g, "rel": r, "dep": d} for g, r, d in p["dependencies"]
                    ]
                    p.update(sid=sid, relation=rel, weight=w)
                    rows.append(p)
                out = pd.DataFrame(rows, columns=out_cols)
            yield out

    return src.mapInPandas(run, schema=schema)


def clean_pages(pages: DataFrame) -> DataFrame:
    """pages -> (url, cleaned_text): the byte-contract extraction over the raw
    page text (per-url invariant of BASELINE.json)."""

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {"url": pdf["url"], "cleaned_text": [clean_text(t or "") for t in pdf["text"]]}
            )

    return pages.select("url", "text").mapInPandas(
        run, schema="url string, cleaned_text string"
    )
