"""Independent pure-Python model of the engine's observable results.

It re-derives everything from the generated rows: tokens (lowercase, split
on non-word runs), the reference query algebra for term/AND/OR/NOT/prefix/
phrase/typo, BM25 top-k with the engine's tie-break (score rounded to 6 dp
descending, then doc_id ascending), and flush's upsert id assignment. It
imports nothing from phphinder_spark except the schema flags it mirrors."""

from __future__ import annotations

import math
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

_WORDS = re.compile(r"\W+")


def tokens(text: str | None) -> list[str]:
    if text is None:
        return []
    return [t for t in _WORDS.split(text.lower()) if t]


def levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def typo_distance(term: str) -> int:
    n = len(term)
    return 2 if n >= 9 else 1 if n >= 5 else 0


def round6(x: float) -> float:
    """Spark's ``round(x, 6)`` on a double: HALF_UP on the shortest
    decimal representation."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


class Model:
    """docs: doc_id -> row. ``indexed`` are the indexed fields, ``unique``
    the unique key (term leaves skip it; prefix leaves do not)."""

    def __init__(self, docs: dict[int, dict], indexed: list[str], unique: str | None):
        self.indexed = list(indexed)
        self.unique = unique
        self.leaf_fields = [f for f in indexed if f != unique]
        self.docs: dict[int, dict] = {}
        self._tok: dict[int, dict[str, list[str]]] = {}
        for doc_id, row in docs.items():
            self._put(doc_id, row)

    def _put(self, doc_id: int, row: dict) -> None:
        self.docs[doc_id] = row
        self._tok[doc_id] = {f: tokens(row.get(f)) for f in self.indexed}

    # ------------------------------------------------------------ writes

    def upsert(self, batch: list[dict]) -> None:
        """flush(): a known unique key keeps its doc_id and replaces the
        document; a new key takes max_id + 1 in batch order."""
        by_key = {row[self.unique]: d for d, row in self.docs.items()}
        max_id = max(self.docs, default=0)
        for row in batch:
            key = row[self.unique]
            if key in by_key:
                doc_id = by_key[key]
            else:
                max_id += 1
                doc_id = max_id
                by_key[key] = doc_id
            self._put(doc_id, row)

    # ----------------------------------------------------------- queries

    def _vocab(self, fields: list[str]) -> set[str]:
        return {t for toks in self._tok.values() for f in fields for t in toks[f]}

    def term(self, t: str) -> set[int]:
        """Exact hits in the non-unique indexed fields; a term with no hit
        anywhere falls back to its Levenshtein neighbours."""
        t = t.lower()
        hits = {d for d, toks in self._tok.items() if any(t in toks[f] for f in self.leaf_fields)}
        if hits:
            return hits
        dist = typo_distance(t)
        if dist == 0:
            return set()
        cands = {
            c for c in self._vocab(self.leaf_fields)
            if abs(len(c) - len(t)) <= dist and levenshtein(c, t) <= dist
        }
        return {
            d for d, toks in self._tok.items()
            if any(c in toks[f] for f in self.leaf_fields for c in cands)
        }

    def prefix(self, p: str) -> set[int]:
        p = p.lower()
        return {
            d for d, toks in self._tok.items()
            if any(t.startswith(p) for f in self.indexed for t in toks[f])
        }

    def phrase(self, text: str, field: str = "content") -> set[int]:
        """Case-sensitive substring of the stored fulltext field."""
        return {d for d, row in self.docs.items() if text in (row.get(field) or "")}

    def search(self, shape: str, q: str) -> set[int]:
        if shape in ("term", "typo"):
            return self.term(q)
        if shape == "and":
            a, b = q.split()
            return self.term(a) & self.term(b)
        if shape == "or":
            a, _, b = q.split()
            return self.term(a) | self.term(b)
        if shape == "not":
            a, rest = q.split(" NOT(")
            return self.term(a) - self.term(rest.rstrip(")"))
        if shape == "prefix":
            return self.prefix(q.rstrip("*"))
        if shape == "phrase":
            return self.phrase(q.strip('"'))
        raise ValueError(f"unknown shape {shape!r}")

    def bm25_topk(
        self, terms: list[str], field: str, k: int, k1: float = 1.2, b: float = 0.75
    ) -> list[tuple[int, float]]:
        """Disjunctive BM25 over ``field``: idf = ln(1 + (N - df + .5) /
        (df + .5)), dl = the doc's token count in ``field``, avgdl over
        docs with at least one token there."""
        n_docs = len(self.docs)
        dls = {d: len(toks[field]) for d, toks in self._tok.items() if toks[field]}
        avgdl = sum(dls.values()) / len(dls)
        tfs = {d: Counter(toks[field]) for d, toks in self._tok.items()}
        scores: dict[int, float] = {}
        for t in dict.fromkeys(x.lower() for x in terms):
            df = sum(1 for c in tfs.values() if t in c)
            if df == 0:
                continue
            idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
            for d, c in tfs.items():
                tf = c.get(t, 0)
                if tf:
                    s = idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dls[d] / avgdl))
                    scores[d] = scores.get(d, 0.0) + s
        ranked = sorted(((d, round6(s)) for d, s in scores.items()), key=lambda x: (-x[1], x[0]))
        return ranked[:k]


def same_topk(got: list[tuple[int, float]], want: list[tuple[int, float]], tol: float = 2e-6) -> bool:
    """Rank-identical doc ids, scores equal to the 6th decimal."""
    return [d for d, _ in got] == [d for d, _ in want] and all(
        abs(g - w) <= tol for (_, g), (_, w) in zip(got, want)
    )
