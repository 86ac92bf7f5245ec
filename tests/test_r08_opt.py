"""Round-8 optimization pins: the plan-shape changes must not move any
observable result.

1. fused term leaves (one postings scan per field scope) return exactly
   the per-leaf rows — including the duplicate-transformed-term fallback
   (where a CASE could not represent two qvalues for one term);
2. every typo regime (driver banded DP, with an IN-list or the broadcast
   join, and the n-gram probe) equals an exhaustive dictionary scan;
3. the banded-DP Levenshtein used by that path decides <= d exactly
   like the full matrix.
"""

import itertools

import pytest

from phphinder_spark.analysis import Analyzer
from phphinder_spark.engine import SparkSearchEngine, _lev_within
from phphinder_spark.schema import IS_FULLTEXT, IS_INDEXED, IS_STORED, SearchSchema


@pytest.fixture(scope="module")
def eng(spark):
    schema = SearchSchema(
        {"text": IS_INDEXED | IS_STORED | IS_FULLTEXT,
         "lang": IS_INDEXED | IS_STORED},
        analyzer=Analyzer.lowercase_only(),
        name="r8opt",
    )
    rows = [
        (1, "alpha beta gamma", "en"),
        (2, "alpha beta", "de"),
        (3, "beta gamma delta", "en"),
        (4, "alpha delta", "en"),
        (5, "gamma gamma alpha", "de"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    e = SparkSearchEngine(spark, schema)
    e.index_dataframe(docs)
    e.index.postings.cache().count()
    e.index.stats()
    return e


def _res(eng, q):
    return sorted(
        (r.doc_id, tuple(r.terms), tuple(r.indices), r.weight)
        for r in eng.search(q)
    )


def test_fused_and_matches_reference_fixture(eng):
    # 2-term AND: fusion path; doc must match BOTH terms
    out = _res(eng, "alpha beta")
    assert [d for d, *_ in out] == [1, 2]
    # terms/fields arrays keep leaf order via seq
    assert out[0][1] == ("alpha", "beta")


def test_fused_or_keeps_all_leaves(eng):
    out = _res(eng, "alpha OR delta")
    assert [d for d, *_ in out] == [1, 2, 3, 4, 5]


def test_duplicate_case_variant_terms_fall_back(eng):
    """'Alpha alpha' transforms to the same term twice: the CASE fusion
    cannot carry two qvalues for one term, so the second leaf must take
    the per-leaf path — and the AND count filter then sees TWO distinct
    qvalues per matching doc (reference semantics: both must appear)."""
    out = _res(eng, "Alpha alpha")
    # both qvalues attach to every doc containing 'alpha'
    assert [d for d, *_ in out] == [1, 2, 4, 5]
    assert out[0][1] == ("Alpha", "alpha")


def test_duplicate_identical_terms_yield_empty(eng):
    """'alpha alpha': ONE distinct qvalue but the AND count expects 2 —
    no doc passes (same as the pre-fusion engine and the reference's
    countDistinct filter)."""
    assert _res(eng, "alpha alpha") == []


def test_term_and_not_group(eng):
    out = _res(eng, "alpha NOT(delta)")
    assert [d for d, *_ in out] == [1, 2, 5]


def test_typo_auto_driver_path_equals_scan_and_ngram(spark, monkeypatch, typo_reference):
    """Every typo regime returns the docs of the exhaustive length-band +
    Levenshtein reference: the driver banded DP with its IN-list, the
    same with the candidates sent through the broadcast join (IN-list
    cap 1), the n-gram probe (threshold 0) and the over-cap path."""
    from phphinder_spark import engine as engine_mod

    schema = SearchSchema(
        {"text": IS_INDEXED | IS_STORED | IS_FULLTEXT},
        analyzer=Analyzer.lowercase_only(),
        name="r8typo",
    )
    rows = [(i, f"window widget wander alpha{i}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # 'windoq' has one candidate ('window'), 'alpha1x' eleven ('alpha1',
    # 'alpha10'..'alpha19'): more than the join regime's cap of 1
    queries = ["windoq", "alpha1x"]
    regimes = {
        "driver": {},
        "driver_join": {"_TYPO_INLIST_MAX": 1},
        "ngram": {"_TYPO_AUTO_DICT_THRESHOLD": 0},
        "over_cap": {"_DICT_DRIVER_CACHE_MAX": 0},
    }
    expected = None
    for regime, patch in regimes.items():
        with monkeypatch.context() as m:
            for name, value in patch.items():
                m.setattr(engine_mod, name, value)
            e = SparkSearchEngine(spark, schema)
            e.index_dataframe(docs)
            e.index.postings.cache().count()
            if expected is None:
                expected = [typo_reference(e.index.postings, q, ["text"]) for q in queries]
                assert all(expected)  # the typo fallback matched something
                assert len(expected[1]) == 11
            got = [sorted(r.doc_id for r in e.search(q)) for q in queries]
            assert got == expected, regime
            assert (e._term_field_cache() is None) == (regime == "over_cap")
            assert (e.index._ngram is None) == (regime in ("driver", "driver_join")), regime
            e.index.unpersist()


def _lev_full(a: str, b: str) -> int:
    dp = list(range(len(b) + 1))
    for i in range(1, len(a) + 1):
        prev, dp[0] = dp[0], i
        for j in range(1, len(b) + 1):
            cur = dp[j]
            dp[j] = min(dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
            prev = cur
    return dp[len(b)]


def test_lev_within_exhaustive_small():
    words = ["".join(w) for n in range(5) for w in itertools.product("ab", repeat=n)]
    for a in words:
        for b in words:
            for d in (0, 1, 2):
                assert _lev_within(a, b, d) == (_lev_full(a, b) <= d), (a, b, d)
