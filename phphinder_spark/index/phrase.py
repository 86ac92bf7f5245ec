"""Positional phrase matching from the (term, doc_id, positions) index —
the scale path for phrase queries (north_star: "query-time AND/OR/phrase
... from posting-list intersection").

Semantics note (documented divergence): the index-only match is
*token-exact* — every phrase token must appear at its aligned offset. The
reference's fulltext operator (Q3) is a raw *substring* scan over stored
text (src/Index/FileIndex.php:156-169), which also matches mid-token
("spark tables" contains "spark table"). The engine therefore uses
``phrase_candidates`` as a cheap index-side prefilter and keeps the
substring verify on the stored field for exact reference parity:
token-verified candidates are a subset of substring matches for
word-boundary phrases, and candidates' stored text is re-checked with
``F.contains`` either way (tests/test_blockmax_phrase.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from phphinder_spark.functions.frames import local_frame


def phrase_candidates(
    postings: DataFrame, analyzed_terms: list[tuple[str, int]], field: str
) -> DataFrame:
    """Docs where each (term, offset) aligns to one anchor position.

    ``analyzed_terms``: [(term, token_offset)] from the analyzer, offsets
    relative to the first token. Plan: per-term position explode ->
    anchor = pos - offset -> count distinct terms per (doc, anchor) == n.
    Each per-term scan is a pushed-down term filter; the alignment check
    is one aggregation on (doc_id, anchor)."""
    spark = postings.sparkSession
    if not analyzed_terms:
        return local_frame(spark, [], "doc_id long")
    base = analyzed_terms[0][1]
    # every (term, offset) SLOT must align to the same anchor — counting
    # distinct terms alone over-matches phrases with repeated tokens
    # ("red fish red" must not accept "red fish blue")
    slots = sorted({(t, off - base) for t, off in analyzed_terms})
    n = len(slots)
    parts = []
    for term, off in slots:
        parts.append(
            postings.where((F.col("field") == field) & (F.col("term") == term))
            .select("doc_id", F.explode("positions").alias("pos"))
            .select(
                "doc_id",
                (F.col("pos") - F.lit(off)).alias("anchor"),
                F.lit(term).alias("t"),
                F.lit(off).alias("off"),
            )
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    return (
        allp.groupBy("doc_id", "anchor")
        .agg(F.countDistinct("t", "off").alias("c"))
        .where(F.col("c") == n)
        .select("doc_id")
        .distinct()
    )


def fulltext_candidates(
    postings: DataFrame, analyzed_terms: list[tuple[str, int]], field: str
) -> DataFrame:
    """Index-side candidate docs for a raw SUBSTRING phrase query — a
    provable superset of ``docs.where(col.contains(phrase))`` matches when
    the index analyzer is drop-free lowercase (engine gates on that).

    Why superset: if the text contains the phrase at some char position,
    the phrase's ``\\W+`` tokens map onto CONSECUTIVE text tokens where the
    first text token may extend left ("xspark table" contains "spark
    table"), the last may extend right ("spark tables"), and every middle
    token matches exactly — so slot 0 matches by suffix, slot n-1 by
    prefix, middles by equality, all anchor-aligned. A single-token phrase
    relaxes both sides (dictionary ``contains`` scan — still a dictionary
    scan, never a corpus scan). The engine re-verifies candidates with the
    case-sensitive ``contains`` for exact reference semantics."""
    spark = postings.sparkSession
    n = len(analyzed_terms)
    if n == 0:
        return local_frame(spark, [], "doc_id long")
    fp = postings.where(F.col("field") == field)
    if n == 1:
        # single-token phrase: both sides may extend, so the only index
        # condition is term CONTAINS t — an O(|dictionary|) scan of the
        # term column (never the corpus; an infix n-gram index over terms
        # would make it O(matching grams) if this ever dominates)
        t = analyzed_terms[0][0]
        return fp.where(F.col("term").contains(t)).select("doc_id").distinct()
    base = analyzed_terms[0][1]
    parts = []
    for i, (t, off) in enumerate(analyzed_terms):
        if i == 0:
            cond = F.col("term").endswith(t)
        elif i == n - 1:
            cond = F.col("term").startswith(t)
        else:
            cond = F.col("term") == t
        parts.append(
            fp.where(cond)
            .select("doc_id", F.explode("positions").alias("pos"))
            .select(
                "doc_id",
                (F.col("pos") - F.lit(off - base)).alias("anchor"),
                F.lit(i).alias("slot"),
            )
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    return (
        allp.groupBy("doc_id", "anchor")
        .agg(F.countDistinct("slot").alias("c"))
        .where(F.col("c") == n)
        .select("doc_id")
        .distinct()
    )


def phrase_match(
    postings: DataFrame,
    docs: DataFrame,
    analyzer,
    phrase: str,
    field: str,
    verify_substring: bool = True,
) -> DataFrame:
    """Index-accelerated phrase search: positional candidates + (optional)
    substring verify on the stored field for reference-exact semantics."""
    analyzed = [(str(t), p) for t, p in analyzer.analyze(phrase)]
    cands = phrase_candidates(postings, analyzed, field)
    if not verify_substring:
        return cands
    return (
        cands.join(docs, "doc_id")
        .where(F.col(field).contains(phrase))
        .select("doc_id")
    )
