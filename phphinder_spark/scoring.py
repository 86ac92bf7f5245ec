"""Scoring: the reference-compat weight fold and the BM25 top-k kernel.

Reference weight semantics (src/SearchEngine.php:296-347, :362-375): per
doc, iterate matched fields in first-match order; for each field whose
query-term group exists, ``score <- 2*score + B`` where ``B`` is the summed
boost of that group's query terms if at least one of them matched the doc,
else 0; then +10 if fulltext, then +2 * |distinct matched terms|. Golden
values 16.0 / 10.0 (tests/Integration/SearchEngineTest.php:121-122).

BM25 is one kernel, ``bm25_topk``, over a posting source: a postings
table (``PostingsSource`` — the engine's cached postings or a persisted
``postings/``) or the segment store (``index.segments.SegmentStore``). A
source is duck-typed: ``spark``; ``stats`` (``n_docs``, ``avgdl`` per
field); ``doclens``; ``chunk_rows(field, terms)`` -> [(term, chunk, df,
max_tf)], where a chunk is a term-independent doc-id range; and
``hits(field, terms, chunks=None)`` -> rows with (term, doc_id, tf).
Exhaustive scoring ends in TakeOrderedAndProject; ``prune=True`` is the
WAND-style block-max over chunks; ``bm25_topk_batch`` is the same
contribution plan for many queries, ranked with a window.

Everything scored in Spark is a pure Column expression (whole-stage
codegen; no UDFs): ``bm25_score_components`` is the only BM25 formula.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F

ANY_FIELD = "*"


def reference_score(
    fields_col: Column,
    terms_col: Column,
    groups: dict[str, tuple[list[str], float]],
    field_labels: list[str],
) -> Column:
    """Closed-form fold of the doubling recurrence over ordered fields.

    ``groups``: query-field label ('*' or a field name) -> (term values,
    summed boost). ``field_labels``: all field names that can appear in a
    doc's matched-field list.
    """

    def resolve(fname: str) -> str | None:
        if fname in groups:
            return fname
        if ANY_FIELD in groups:
            return ANY_FIELD
        return None

    def step(acc: Column, f: Column) -> Column:
        expr = acc
        for fname in field_labels:
            g = resolve(fname)
            if g is None:
                continue
            vals, boost = groups[g]
            if vals:
                overlap = F.arrays_overlap(
                    terms_col, F.lit([str(v) for v in vals])
                )
                contrib = F.when(overlap, F.lit(float(boost))).otherwise(F.lit(0.0))
            else:
                contrib = F.lit(0.0)
            expr = F.when(f == F.lit(fname), acc * 2 + contrib).otherwise(expr)
        return expr

    return F.aggregate(fields_col, F.lit(0.0), step)


def bm25_score_components(
    tf: Column, df_: Column, dl: Column, n_docs: int, avgdl: float,
    k1: float = 1.2, b: float = 0.75,
) -> Column:
    """Per-(term, doc) BM25 contribution; sum per doc gives the score.

    idf = ln(1 + (N - df + 0.5)/(df + 0.5)) — the standard Robertson/
    Sparck-Jones form (SURVEY.md §7.3); deterministic regardless of
    partitioning because each component is computed per row and summed
    with a fixed grouping.
    """
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - df_ + F.lit(0.5)) / (df_ + F.lit(0.5)))
    denom = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(float(avgdl)))
    return idf * tf * F.lit(k1 + 1.0) / denom


class PostingsSource:
    """Posting source over a postings table (cached, or a persisted
    ``postings/``). A chunk is ``doc_id // span``, the span giving ~256
    chunks whatever the corpus size; chunk rows cost one aggregate
    collect, so exhaustive scoring never reads them."""

    df_from_chunk_rows = False

    def __init__(self, postings: DataFrame, doclens: DataFrame, stats: dict):
        self.spark = postings.sparkSession
        self.postings, self.doclens, self.stats = postings, doclens, stats
        span = max(64, 1 << (stats["n_docs"] // 256).bit_length())
        self._chunk = F.floor(F.col("doc_id") / F.lit(span))

    def chunk_rows(self, field: str, terms: list[str]) -> list:
        return (
            self.hits(field, terms)
            .groupBy("term", self._chunk.alias("chunk"))
            .agg(F.count("*").alias("df"), F.max("tf").alias("max_tf"))
            .collect()
        )

    def hits(self, field: str, terms: list[str], chunks: list[int] | None = None) -> DataFrame:
        hits = self.postings.where((F.col("field") == field) & F.col("term").isin(terms))
        return hits if chunks is None else hits.where(self._chunk.isin(chunks))


def _chunk_df(rows) -> dict[str, int]:
    """term -> df: the sum of the term's chunk rows' df."""
    dfreq: dict[str, int] = {}
    for t, _, d, _ in rows:
        dfreq[t] = dfreq.get(t, 0) + d
    return dfreq


def _contributions(
    source, field: str, terms: list[str], dfreq: dict[str, int] | None,
    k1: float, b: float, chunks: list[int] | None = None,
) -> DataFrame:
    """Per-(term, doc) BM25 contributions of the query terms' hits in
    ``chunks`` (all when None). df is the literal ``dfreq`` map when
    non-empty, else one in-plan count per term over the hits: the same
    values (one posting row per (field, term, doc)) in the same double
    expression, so scores are bit-identical."""
    hits = source.hits(field, terms, chunks)
    if dfreq:
        lits = [x for t, v in sorted(dfreq.items()) for x in (F.lit(t), F.lit(int(v)))]
        hits = hits.withColumn("df", F.create_map(*lits)[F.col("term")])
    else:
        # no driver df (over the dictionary-cache cap), or an empty map:
        # untypable (map()[term]), and no query term is in this field
        hits = hits.join(F.broadcast(hits.groupBy("term").agg(F.count("*").alias("df"))), "term")
    n_docs, avgdl = source.stats["n_docs"], source.stats["avgdl"].get(field, 1.0)
    return hits.join(
        source.doclens.where(F.col("field") == field).select("doc_id", "dl"), "doc_id"
    ).withColumn(
        "contrib",
        bm25_score_components(
            F.col("tf").cast("double"), F.col("df").cast("double"),
            F.col("dl").cast("double"), n_docs, avgdl, k1, b,
        ),
    )


def bm25_topk(
    source,
    terms: list[str],
    field: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    prune: bool = False,
    df_by_term: dict[str, int] | None = None,
) -> tuple[DataFrame, dict]:
    """Disjunctive (OR) BM25 top-k of ``terms`` over one field of
    ``source``; returns (topk_df, metrics). Exhaustive scoring is one hash
    aggregate and a TakeOrderedAndProject (score desc, doc_id asc). df per
    term sums its chunk rows when those are read (pruning, or a source
    with ``df_from_chunk_rows``), else comes from ``df_by_term`` (e.g. the
    engine's driver dictionary cache) or one in-plan count.

    ``prune=True`` is block-max over chunks: a chunk is a term-independent
    doc-id range, so a doc scores at most sum_t ub(t, chunk) with ub =
    idf·max_tf·(k1+1)/(max_tf + k1(1−b)). θ is the k-th exact score over
    the rarest terms' chunks, and only chunks bounded at or above θ are
    scored — the exhaustive top-k (asserted in tests). ``metrics`` are
    driver-side counts (theta, chunks_total, chunks_decoded,
    chunk_skip_fraction, and the shortcut taken or seed_chunks); empty
    when no chunk rows were read."""
    terms = list(dict.fromkeys(str(t) for t in terms))

    def topk(dfreq: dict[str, int] | None, chunks: list[int] | None = None) -> DataFrame:
        scored = (
            _contributions(source, field, terms, dfreq, k1, b, chunks)
            .groupBy("doc_id")
            .agg(F.round(F.sum("contrib"), 6).alias("score"))
        )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    if not prune and not source.df_from_chunk_rows:
        return topk(df_by_term), {}
    rows = source.chunk_rows(field, terms)

    def metrics(theta: float, total: int, decoded: int, **extra) -> dict:
        skip = round(1.0 - decoded / total, 4) if total else 0.0
        return {"theta": theta, "chunks_total": total, "chunks_decoded": decoded,
                "chunk_skip_fraction": skip, **extra}

    if not rows:
        empty = source.spark.createDataFrame([], "doc_id long, score double")
        return empty, metrics(float("-inf"), 0, 0)
    dfreq = _chunk_df(rows)
    if not prune:
        return topk(dfreq), {}
    n_docs = source.stats["n_docs"]
    idf = {t: math.log(1.0 + (n_docs - d + 0.5) / (d + 0.5)) for t, d in dfreq.items()}
    chunk_bound: dict[int, float] = {}
    terms_per_chunk: dict[int, set] = {}
    for t, c, _, m in rows:
        ub = idf[t] * m * (k1 + 1.0) / (m + k1 * (1.0 - b))
        chunk_bound[c] = chunk_bound.get(c, 0.0) + ub
        terms_per_chunk.setdefault(c, set()).add(t)
    total = len(chunk_bound)

    # quick reject (all-hot queries): when EVERY chunk holds EVERY query
    # term, bound-based skipping can at best shave tf variance while the
    # θ-seeding pass decodes its seed chunks twice — measured 2x slower
    # than exhaustive at 1.5M docs (BENCH.md crossover, 'function return
    # class'). Score everything in one pass instead; identical top-k.
    if all(len(s) == len(dfreq) for s in terms_per_chunk.values()):
        return topk(dfreq), metrics(float("-inf"), total, total, quick_reject=True)

    # θ seed: rarest terms (ascending global df) until the seed can fill k
    seed_terms: set[str] = set()
    cum = 0
    for t in sorted(dfreq, key=lambda t: (dfreq[t], t)):
        seed_terms.add(t)
        cum += dfreq[t]
        if cum >= k:
            break
    seed_chunks = sorted({c for t, c, _, _ in rows if t in seed_terms})
    if len(seed_chunks) == total:
        # the θ-seed already touches every chunk (typical for a needle
        # term paired with spread terms on an unclustered layout): its
        # exact scores ARE the exhaustive result — skip the bound and
        # survivor passes outright
        return topk(dfreq), metrics(float("-inf"), total, total, seed_covered_all=True)
    kth = topk(dfreq, seed_chunks).collect()
    theta = kth[-1]["score"] if len(kth) >= k else float("-inf")

    # 1e-6 slack absorbs the 6-dp rounding of θ (scores are compared rounded)
    survivors = sorted(c for c, bound in chunk_bound.items() if bound >= theta - 1e-6)
    return topk(dfreq, survivors), metrics(
        theta, total, len(survivors), seed_chunks=len(seed_chunks)
    )


def bm25_topk_batch(
    source,
    queries: dict[str, list[str]],
    field: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    df_by_term: dict[str, int] | None = None,
) -> DataFrame:
    """BM25 top-k for a BATCH of queries in one plan: the kernel's
    contributions over the union of the batch's terms, joined to the
    (query_id, term) pairs and ranked per query with a window — one job
    for the whole batch. Returns (query_id, doc_id, score, rank); df as
    in the exhaustive :func:`bm25_topk`."""
    # set semantics per query: a repeated term must contribute once (same
    # as the single-query kernel, which dedups its terms)
    pairs = sorted({(qid, str(t)) for qid, ts in queries.items() for t in ts})
    if not pairs:
        return source.spark.createDataFrame(
            [], "query_id string, doc_id long, score double, rank int"
        )
    terms = sorted({t for _, t in pairs})
    if source.df_from_chunk_rows:
        df_by_term = _chunk_df(source.chunk_rows(field, terms))
    qdf = source.spark.createDataFrame(pairs, "query_id string, term string")
    scored = (
        _contributions(source, field, terms, df_by_term, k1, b)
        .join(F.broadcast(qdf), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )
