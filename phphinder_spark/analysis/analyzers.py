"""Tokenizer + transformer chain with reference-identical semantics.

Mirrors the behavior (not the code) of the reference analyzers:
- RegexTokenizer: split on ``\\W+`` (Unicode), drop empties; non-strings pass
  through as a single token (reference: src/Token/RegexTokenizer.php:19-27).
- LowerCaseTransformer: optional filters, then Unicode lowercase
  (reference: src/Transformer/LowerCaseTransformer.php:27-35).
- SymbolTransformer: strip ``[^a-zA-Z0-9]+`` (src/Transformer/SymbolTransformer.php:25-34).
- StemmerTransformer: Snowball/Porter2 English (src/Transformer/StemmerTransformer.php:30-39).
- StopWordsFilter: drop token when in the per-language list; unknown language
  => allow everything (src/Transformer/StopWordsFilter.php:25-40).
- Chain: transformers run in order; a ``None`` kills the token and stops the
  chain (reference: src/Index/AbstractStorage.php:336-345).

Each piece is a pure-Python callable, which the driver runs on query terms.
The pieces that Spark can express also carry their JVM form next to it
(``spark_tokens``, ``spark_apply``, ``spark_allow``), and
``Analyzer.spark_analyze`` compiles a chain of them into Column expressions,
so index-time analysis of such a chain starts no Python worker. A chain
with any other piece (a stemmer, a user's own transformer or filter)
has no Spark form; ``index/builder.py`` runs it in an Arrow-vectorized
pandas UDF instead.
"""

from __future__ import annotations

import functools
import re
import sys
from collections.abc import Iterable

from phphinder_spark.analysis.porter2 import stem
from phphinder_spark.analysis.stopwords_all import STOPWORDS_BY_LANG
from phphinder_spark.analysis.stopwords_en import STOPWORDS_EN

_WORD_SPLIT = re.compile(r"\W+", re.UNICODE)
_SYMBOL = re.compile(r"[^a-zA-Z0-9]+")

STOPWORDS = dict(STOPWORDS_BY_LANG)
STOPWORDS["en"] = STOPWORDS_EN


def _word_ranges() -> list[tuple[int, int]]:
    """Maximal code-point ranges of Python's ``\\w``: ``str.isalnum()``
    or ``_``, from this interpreter's own Unicode tables."""
    ranges: list[tuple[int, int]] = []
    start = None
    for c in range(sys.maxunicode + 2):
        word = c <= sys.maxunicode and (chr(c).isalnum() or c == 0x5F)
        if word and start is None:
            start = c
        elif not word and start is not None:
            ranges.append((start, c - 1))
            start = None
    return ranges


def _java_class(ranges: list[tuple[int, int]]) -> str:
    """Java character-class body matching ``ranges``. A flat union is a
    chain of range tests that a character outside it walks to the end
    (~730 tests for ``\\w``), so groups of ranges nest as
    ``[lo-hi&&[...]]``: a character outside a group's span skips the
    group after one test."""

    def x(c: int) -> str:
        return f"\\x{{{c:X}}}"

    fan = 8
    if len(ranges) <= fan:
        return "".join(x(a) if a == b else f"{x(a)}-{x(b)}" for a, b in ranges)
    size = -(-len(ranges) // fan)
    groups = [ranges[i : i + size] for i in range(0, len(ranges), size)]
    return "".join(f"[{x(g[0][0])}-{x(g[-1][1])}&&[{_java_class(g)}]]" for g in groups)


@functools.cache
def _word_run_regex() -> str:
    """Java regex of one ``\\w`` run, built from Python's tables rather
    than Java's ``\\p{...}`` ones: the JVM and the interpreter can ship
    different Unicode versions (Java 17: 13, Python 3.11: 14), and Java's
    ``(?U)\\w`` also admits combining marks. ASCII is tested first."""
    ranges = _word_ranges()
    ascii_part = [(a, min(b, 0x7F)) for a, b in ranges if a <= 0x7F]
    rest = [(max(a, 0x80), b) for a, b in ranges if b > 0x7F]
    return (
        f"[{_java_class(ascii_part)}"
        f"[\\x{{80}}-\\x{{{sys.maxunicode:X}}}&&[{_java_class(rest)}]]]+"
    )


def _jvm_method(obj: object, method: str, spark_method: str):
    """``obj``'s bound ``spark_method``, or None. It counts only when the
    class that defines ``method`` defines it too: a subclass that
    overrides ``apply`` (or ``allow``) alone has no JVM form."""
    for klass in type(obj).__mro__:
        if method in vars(klass):
            return getattr(obj, spark_method) if spark_method in vars(klass) else None
    return None


class RegexTokenizer:
    """Split text on non-word runs; non-strings pass through whole."""

    def apply(self, text: object) -> list:
        if not isinstance(text, str):
            return [text]
        return [t for t in _WORD_SPLIT.split(text) if t != ""]

    def spark_tokens(self, text):
        """JVM form of ``apply`` on a string column: the ``\\w`` runs,
        which are exactly the non-empty pieces of the ``\\W+`` split."""
        from pyspark.sql import functions as F

        return F.regexp_extract_all(text, F.lit(_word_run_regex()), 0)


class _Filtered:
    """Shared filter plumbing (reference filters run before the transform)."""

    def __init__(self, lang_iso: str = "en", filters: Iterable | None = None):
        self.lang_iso = lang_iso
        self.filters = list(filters or [])

    def _allowed(self, term: str) -> bool:
        return all(f.allow(term) for f in self.filters)

    def _spark_allowed(self, term):
        """JVM form of ``_allowed`` (a Column predicate), or None when a
        filter has no JVM form."""
        from pyspark.sql import functions as F

        keep = F.lit(True)
        for f in self.filters:
            allow = _jvm_method(f, "allow", "spark_allow")
            if allow is None:
                return None
            keep = keep & allow(term)
        return keep


class StopWordsFilter:
    def __init__(self, lang_iso: str = "en"):
        self.stop_words = STOPWORDS.get(lang_iso, frozenset())

    def allow(self, term: str) -> bool:
        return term not in self.stop_words

    def spark_allow(self, term):
        # isin over more than a handful of literals plans as a hash-set
        # lookup (InSet), not a scan of the list
        from pyspark.sql import functions as F

        if not self.stop_words:
            return F.lit(True)
        return ~term.isin(sorted(self.stop_words))


# JVM default-locale languages whose case mapping differs from Python's
# locale-free str.lower() (dotted/dotless i in tr/az, i + dot in lt)
_LOCALE_CASED_LANGS = ("tr", "az", "lt")


class LowerCaseTransformer(_Filtered):
    def apply(self, term: str) -> str | None:
        if not self._allowed(term):
            return None
        return term.lower()

    def spark_apply(self, term, spark):
        """(lower(term), allowed) — or None where Spark's ``lower`` is
        not Python's: with ``spark.sql.icu.caseMappings.enabled`` off it
        is Java's, Unicode 13 with its own final-sigma context, and ICU
        follows the JVM's default locale. Under ICU and a locale outside
        ``_LOCALE_CASED_LANGS`` no Python word character lowers
        differently (enumerated in tests/test_jvm_analysis.py). Applied
        per token, after the split, as ``Analyzer.analyze`` does."""
        from pyspark.sql import functions as F

        icu = spark.conf.get("spark.sql.icu.caseMappings.enabled") == "true"
        lang = spark._jvm.java.util.Locale.getDefault().getLanguage()
        keep = self._spark_allowed(term)
        if not icu or lang in _LOCALE_CASED_LANGS or keep is None:
            return None
        return F.lower(term), keep


class SymbolTransformer(_Filtered):
    def apply(self, term: str) -> str | None:
        if not self._allowed(term):
            return None
        return _SYMBOL.sub("", term)

    def spark_apply(self, term, spark):
        """(the term's ASCII letters and digits, allowed and non-empty):
        the result is empty exactly when the term has no ASCII letter or
        digit, and ``Analyzer.analyze`` drops empty terms."""
        from pyspark.sql import functions as F

        keep = self._spark_allowed(term)
        if keep is None:
            return None
        return (
            F.regexp_replace(term, _SYMBOL.pattern, ""),
            keep & term.rlike("[a-zA-Z0-9]"),
        )


# ISO code -> PyStemmer algorithm name, for languages WITHOUT a pinned
# pure-Python port above (PyStemmer names follow snowballstem.org)
_PYSTEMMER_LANGS = {
    "ar": "arabic",
    "eu": "basque",
    "ca": "catalan",
    "el": "greek",
    "fi": "finnish",
    "ga": "irish",
    "hi": "hindi",
    "hu": "hungarian",
    "id": "indonesian",
    "lt": "lithuanian",
    "ne": "nepali",
    "ro": "romanian",
    "sr": "serbian",
    "ta": "tamil",
    "tr": "turkish",
}


_PYSTEMMER_CACHE: dict = {}


def _pystemmer_fn(lang_iso: str):
    """Upstream-certified stem callable via the optional PyStemmer C
    extension, or None when the language/extension is unavailable.

    The returned callable carries only the ALGORITHM NAME and builds
    its ``Stemmer`` lazily on first use in whatever process runs it:
    the C object is unpicklable (a driver-bound instance would crash
    UDF serialization the moment the analyzer ships to executors —
    the exact path the feature exists for) and not thread-safe (each
    deserialized worker copy builds its own)."""
    algo = _PYSTEMMER_LANGS.get(lang_iso)
    if algo is None:
        return None
    try:
        import Stemmer  # PyStemmer, optional — availability check only
    except ImportError:
        return None
    if algo not in Stemmer.algorithms():
        return None

    # per-PROCESS cache in a module global: the closure captures only
    # the algo string (a default-arg holder would be pickled along
    # WITH a populated Stemmer after any driver-side use and crash
    # serialization anyway); workers re-import this module and build
    # their own instance on first call
    def stem_word(word):
        st = _PYSTEMMER_CACHE.get(algo)
        if st is None:
            import Stemmer as _S

            st = _PYSTEMMER_CACHE[algo] = _S.Stemmer(algo)
        return st.stemWord(word)

    return stem_word


class StemmerTransformer(_Filtered):
    """Snowball stemmer by ISO language code (reference stems any Snowball
    language via wamania/php-stemmer, src/Transformer/StemmerTransformer.php:30-39;
    the pure-Python algorithm ports live in analysis/snowball_*.py +
    porter2.py)."""

    def __init__(self, lang_iso: str = "en", filters: Iterable | None = None):
        super().__init__(lang_iso, filters)
        if lang_iso == "en":
            self._stem = stem
        elif lang_iso == "de":
            from phphinder_spark.analysis.snowball_de import stem as stem_de

            self._stem = stem_de
        elif lang_iso == "es":
            from phphinder_spark.analysis.snowball_es import stem as stem_es

            self._stem = stem_es
        elif lang_iso == "fr":
            from phphinder_spark.analysis.snowball_fr import stem as stem_fr

            self._stem = stem_fr
        elif lang_iso == "pt":
            from phphinder_spark.analysis.snowball_pt import stem as stem_pt

            self._stem = stem_pt
        elif lang_iso == "it":
            from phphinder_spark.analysis.snowball_it import stem as stem_it

            self._stem = stem_it
        elif lang_iso == "nl":
            from phphinder_spark.analysis.snowball_nl import stem as stem_nl

            self._stem = stem_nl
        elif lang_iso in ("da", "no", "sv"):
            from phphinder_spark.analysis import snowball_scand

            self._stem = {
                "da": snowball_scand.stem_da,
                "no": snowball_scand.stem_no,
                "sv": snowball_scand.stem_sv,
            }[lang_iso]
        elif lang_iso == "ru":
            from phphinder_spark.analysis.snowball_ru import stem as stem_ru

            self._stem = stem_ru
        else:
            # optional backend for the remaining Snowball languages:
            # PyStemmer (the snowballstem.org project's own C wrapper)
            # carries upstream-certified outputs for every published
            # algorithm, so environments that ship it get ro/fi/hu/tr/...
            # without a from-memory port (SURVEY §7.5: porting those
            # without the official conformance vocabularies would be a
            # silent-divergence risk). Import-guarded — absent, the
            # documented raise stands.
            self._stem = _pystemmer_fn(lang_iso)
            if self._stem is None:
                raise NotImplementedError(
                    "Snowball stemmers implemented: en, de, es, fr, pt, it, "
                    f"nl, da, no, sv, ru (got {lang_iso!r}); install "
                    "PyStemmer for the remaining Snowball languages"
                )

    def apply(self, term: str) -> str | None:
        if not self._allowed(term):
            return None
        return self._stem(term)


class Analyzer:
    """Tokenizer + ordered transformer chain.

    ``transform`` applies the chain to one token (None = dropped, chain
    stops). ``analyze`` tokenizes then transforms, keeping original token
    positions, which the positional index needs for phrase queries.
    """

    def __init__(self, tokenizer: RegexTokenizer | None = None, transformers: list | None = None):
        self.tokenizer = tokenizer or RegexTokenizer()
        self.transformers = list(transformers or [])

    @staticmethod
    def default(lang_iso: str = "en", with_symbol: bool = False) -> "Analyzer":
        """The reference integration-test chain: lowercase(+stopwords) then
        stem; the Alice/performance chain inserts SymbolTransformer between
        them (reference: tests/Performance/AliceSearchEngineTest.php:109-113).
        """
        chain: list = [LowerCaseTransformer(lang_iso, [StopWordsFilter(lang_iso)])]
        if with_symbol:
            chain.append(SymbolTransformer(lang_iso))
        chain.append(StemmerTransformer(lang_iso))
        return Analyzer(transformers=chain)

    @staticmethod
    def lowercase_only(lang_iso: str = "en") -> "Analyzer":
        """Lowercase without stopwords/stemming — SQL-oracle-friendly chain."""
        return Analyzer(transformers=[LowerCaseTransformer(lang_iso)])

    def positional_faithful(self) -> bool:
        """True when index terms are the original tokens lowercased with
        nothing dropped — the precondition for using the MAIN positional
        index as a fulltext/phrase prefilter (stemming breaks suffix
        matching; stopword/None drops break position alignment). Chains
        that fail this get a lowercase SHADOW positional field instead
        (index/builder.shadow_fields)."""
        return type(self.tokenizer) is RegexTokenizer and all(
            type(t) is LowerCaseTransformer and not t.filters
            for t in self.transformers
        )

    def transform(self, term: object) -> object | None:
        if not isinstance(term, str):
            return term
        for t in self.transformers:
            term = t.apply(term)
            if term is None:
                return None
        return term

    def analyze(self, text: object) -> list[tuple[object, int]]:
        """Return [(transformed_token, original_position)] with drops removed."""
        out = []
        for pos, tok in enumerate(self.tokenizer.apply(text)):
            tok = self.transform(tok)
            if tok is None or tok == "":
                continue
            out.append((tok, pos))
        return out

    def spark_analyze(self, df, text: str, *carry: str, unique: bool = False):
        """``analyze`` of the string column ``df[text]`` as Column
        expressions: (carry..., term, pos) per kept token, or None when a
        piece of the chain has no JVM form in this session. Positions
        come from ``posexplode`` over all tokens, before the chain drops
        any, so a dropped token leaves a gap as in ``analyze``; a null
        text has no tokens. A unique field is tokenized only (reference:
        src/Index/AbstractStorage.php:114-119)."""
        from pyspark.sql import functions as F

        tokens = _jvm_method(self.tokenizer, "apply", "spark_tokens")
        if tokens is None:
            return None
        term, keep = F.col("_tok"), F.lit(True)
        for t in [] if unique else self.transformers:
            apply = _jvm_method(t, "apply", "spark_apply")
            step = None if apply is None else apply(term, df.sparkSession)
            if step is None:
                return None
            # each step's predicate reads the step's input, as the
            # Python chain's filters do
            term, allowed = step
            keep = keep & allowed
        exploded = df.select(*carry, F.posexplode(tokens(F.col(text))).alias("pos", "_tok"))
        return exploded.where(keep).select(*carry, term.alias("term"), "pos")

    def terms(self, text: object) -> list:
        return [t for t, _ in self.analyze(text)]

    def unique_terms(self, text: object) -> list:
        """Order-preserving unique transformed tokens (reference
        AbstractStorage::getTokensFor, src/Index/AbstractStorage.php:350-356)."""
        seen = set()
        out = []
        for t, _ in self.analyze(text):
            if t not in seen:
                seen.add(t)
                out.append(t)
        return out
