"""Seeded inputs: the corpus rows, the query streams and the upsert
batches. Everything here is a pure function of (seed, sizes); the program
under test only ever sees what these functions return."""

from __future__ import annotations

import os
import random
import re
from collections import Counter

from phphinder_spark.corpus import HOT_TERMS, make_row
from phphinder_spark.schema import (
    IS_FULLTEXT,
    IS_INDEXED,
    IS_STORED,
    IS_UNIQUE,
    SearchSchema,
)

COLUMNS = ["repo", "path", "commit", "lang", "content"]
FIELD = "content"  # BM25 field
TOPK = 10

_WORDS = re.compile(r"\W+")


def bench_schema() -> SearchSchema:
    """The input_hint shape (repo, path, commit, lang, content) with
    ``path`` as the unique key, so a flush with a known path replaces the
    stored document instead of appending a duplicate."""
    from phphinder_spark.analysis import Analyzer

    return SearchSchema(
        {
            "repo": IS_STORED | IS_INDEXED,
            "path": IS_STORED | IS_INDEXED | IS_UNIQUE,
            "commit": IS_STORED,
            "lang": IS_STORED | IS_INDEXED,
            "content": IS_STORED | IS_INDEXED | IS_FULLTEXT,
        },
        analyzer=Analyzer.lowercase_only("en"),
        name="perfbench_schema",
    )


def corpus_rows(n_docs: int, seed: int) -> list[dict]:
    """The Zipf code corpus: row i is ``corpus.make_row(i, seed, n_docs,
    zipf=True)``, the per-row function that ``generate_code_corpus(zipf=
    True)`` maps over ``spark.range``."""
    return [
        dict(zip(COLUMNS, make_row(i, seed, n_docs, zipf=True)))
        for i in range(n_docs)
    ]


def write_corpus(rows: list[dict], path: str, n_files: int, doc_ids: bool) -> None:
    """Write ``rows`` as ``n_files`` parquet files (one scan split each).
    ``doc_ids`` adds doc_id = row index + 1."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    per = -(-len(rows) // n_files)
    for f in range(n_files):
        part = rows[f * per : (f + 1) * per]
        if not part:
            continue
        cols = {c: [r[c] for r in part] for c in COLUMNS}
        if doc_ids:
            cols = {"doc_id": list(range(f * per + 1, f * per + len(part) + 1)), **cols}
        pq.write_table(pa.table(cols), os.path.join(path, f"part-{f:05d}.parquet"))


def content_df(rows: list[dict]) -> Counter:
    """Document frequency of every content token."""
    df: Counter = Counter()
    for r in rows:
        df.update({t for t in _WORDS.split(r["content"].lower()) if t})
    return df


class TermPools:
    """Query vocabulary drawn from the corpus by document frequency:
    ``hot`` keywords in nearly every document, ``mid`` ids and ``rare``
    Zipf-tail ids. Hot keywords pass block-max's quick reject; rare ids
    let it seed a tight threshold."""

    def __init__(self, rows: list[dict]):
        df = content_df(rows)
        n = len(rows)
        ids = sorted(t for t in df if t.startswith("id"))
        self.hot = sorted(t for t in HOT_TERMS if df.get(t, 0) > 0)
        self.mid = [t for t in ids if n // 50 <= df[t] <= n // 5]
        self.rare = [t for t in ids if 2 <= df[t] <= 4]
        if not (self.hot and len(self.mid) >= 8 and len(self.rare) >= 8):
            raise ValueError(f"corpus of {n} docs is too small for the query pools")


def _pick(rng: random.Random, pool: list[str], avoid: set[str]) -> str:
    for _ in range(1000):
        t = rng.choice(pool)
        if t not in avoid:
            avoid.add(t)
            return t
    raise ValueError("query pool exhausted")


BM25_KINDS = 4


def bm25_terms(rng: random.Random, pools: TermPools, kind: int | None = None) -> list[str]:
    """1-3 distinct terms mixing hot keywords, mid ids and rare ids.
    ``kind`` (taken modulo BM25_KINDS) picks the mix; the workloads cycle
    through the kinds so every run sends the same mix whatever the seed."""
    used: set[str] = set()
    kind = rng.randrange(BM25_KINDS) if kind is None else kind % BM25_KINDS
    if kind == 0:
        return [_pick(rng, pools.hot, used), _pick(rng, pools.rare, used)]
    if kind == 1:
        return [_pick(rng, pools.mid, used), _pick(rng, pools.rare, used)]
    if kind == 2:
        return [_pick(rng, pools.rare, used)]
    return [
        _pick(rng, pools.hot, used),
        _pick(rng, pools.mid, used),
        _pick(rng, pools.rare, used),
    ]


def _typo(rng: random.Random, term: str) -> str:
    """A one-substitution misspelling of a >=5-letter keyword (Levenshtein
    distance 1, which the engine tolerates from 5 letters up)."""
    i = rng.randrange(1, len(term) - 1)
    sub = "x" if term[i] != "x" else "z"
    return term[:i] + sub + term[i + 1 :]


def search_query(rng: random.Random, pools: TermPools, shape: str) -> str:
    used: set[str] = set()
    if shape == "term":
        return _pick(rng, pools.mid, used)
    if shape == "and":
        return f"{_pick(rng, pools.hot, used)} {_pick(rng, pools.mid, used)}"
    if shape == "or":
        return f"{_pick(rng, pools.mid, used)} OR {_pick(rng, pools.rare, used)}"
    if shape == "not":
        return f"{_pick(rng, pools.hot, used)} NOT({_pick(rng, pools.mid, used)})"
    if shape == "prefix":
        t = _pick(rng, pools.mid, used)
        return t[: max(3, len(t) - 1)] + "*"
    if shape == "phrase":
        return f'"{_pick(rng, pools.hot, used)} {_pick(rng, pools.hot, used)}"'
    if shape == "typo":
        long_hot = [t for t in pools.hot if len(t) >= 5]
        return _typo(rng, rng.choice(long_hot))
    raise ValueError(f"unknown shape {shape!r}")


def make_op(
    rng: random.Random, pools: TermPools, shape: str, kind: int | None = None
) -> tuple[str, object]:
    if shape == "bm25":
        return shape, bm25_terms(rng, pools, kind)
    return shape, search_query(rng, pools, shape)


def upsert_batch(
    rng: random.Random, n_docs: int, batch: int, size: int, seed: int
) -> list[dict]:
    """``size`` documents: half replace an existing path with new content,
    half are new paths."""
    n_replace = size // 2
    out = [
        dict(zip(COLUMNS, make_row(i, seed + 7919 * (batch + 1), n_docs, zipf=True)))
        for i in rng.sample(range(n_docs), n_replace)
    ]
    for j in range(size - n_replace):
        i = n_docs + batch * size + j
        out.append(dict(zip(COLUMNS, make_row(i, seed, n_docs, zipf=True))))
    return out
