"""Index-time analysis in the JVM (``Analyzer.spark_analyze``): the
compiled chains equal ``Analyzer.analyze`` term for term and position for
position, the n-gram expression equals ``term_ngrams``, the build plans
hold no Python node, and a lowercase-chain build, open, flush and search
start no Python worker at all."""

from __future__ import annotations

import os
import re
import subprocess
import sys
from collections import defaultdict

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from phphinder_spark.analysis import (
    Analyzer,
    LowerCaseTransformer,
    RegexTokenizer,
    StemmerTransformer,
    StopWordsFilter,
    SymbolTransformer,
)
from phphinder_spark.corpus import make_row
from phphinder_spark.functions.frames import local_frame
from phphinder_spark.index.builder import build_postings, postings_of_rows
from phphinder_spark.index.typo_ngram import ngrams_col, term_ngrams
from phphinder_spark.schema import (
    IS_FULLTEXT,
    IS_INDEXED,
    IS_STORED,
    IS_UNIQUE,
    SearchSchema,
    test_schema as make_test_schema,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ICU_CONF = "spark.sql.icu.caseMappings.enabled"


def lowercase_stopwords() -> Analyzer:
    return Analyzer(transformers=[LowerCaseTransformer("en", [StopWordsFilter("en")])])


# every built-in chain with a JVM form, as (analyzer, unique)
CHAINS = {
    "lowercase": (Analyzer.lowercase_only(), False),
    "lowercase+stopwords": (lowercase_stopwords(), False),
    "symbol": (Analyzer(transformers=[SymbolTransformer()]), False),
    "lowercase+symbol": (
        Analyzer(transformers=[LowerCaseTransformer(), SymbolTransformer("en", [StopWordsFilter("en")])]),
        False,
    ),
    "unique": (Analyzer.default("en"), True),
}


def text_frame(spark, texts):
    return local_frame(
        spark, [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def jvm_analyze(spark, analyzer, unique, texts):
    rows = analyzer.spark_analyze(text_frame(spark, texts), "text", "doc_id", unique=unique)
    assert rows is not None
    out = defaultdict(list)
    for r in rows.collect():
        out[r["doc_id"]].append((r["term"], r["pos"]))
    return [sorted(out[i], key=lambda tp: tp[1]) for i in range(len(texts))]


def python_analyze(analyzer, unique, text):
    if unique:
        return [(t, i) for i, t in enumerate(analyzer.tokenizer.apply(text))]
    return analyzer.analyze(text)


def formatted_plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


# ------------------------------------------------------------ tokenizer


def test_word_regex_equals_python_on_every_code_point(spark):
    """One string holding every code point (surrogates excluded): any
    character classified differently from Python's ``\\w`` would split
    or merge a run."""
    text = "".join(chr(c) for c in range(sys.maxunicode + 1) if not 0xD800 <= c <= 0xDFFF)
    want = RegexTokenizer().apply(text)
    assert want == re.findall(r"\w+", text)
    got = (
        text_frame(spark, [text])
        .select(RegexTokenizer().spark_tokens(F.col("text")).alias("t"))
        .collect()[0]["t"]
    )
    assert got == want


def test_unicode_14_letter_is_a_word_character(spark):
    """U+10570 (Vithkuqi, Unicode 14) is a letter to Python 3.11 but
    unknown to Java 17's tables: ``[^\\p{L}\\p{N}_]`` would split here."""
    assert jvm_analyze(spark, *CHAINS["lowercase"], ["a\U00010570b"]) == [
        Analyzer.lowercase_only().analyze("a\U00010570b")
    ]


# ------------------------------------------------------------ lowercase


def test_lower_equals_python_on_every_word_character(spark):
    """Spark's ``lower`` (ICU case mappings, the session default) maps
    every character that can sit in a token as ``str.lower`` does, so
    the compiled lowercase step needs no translate table."""
    chars = [chr(c) for c in range(sys.maxunicode + 1) if chr(c).isalnum() or c == 0x5F]
    got = [
        r[0]
        for r in local_frame(spark, [(c,) for c in chars], "c string")
        .select(F.lower("c"))
        .collect()
    ]
    assert [(c, g) for c, g in zip(chars, got) if g != c.lower()] == []


def test_lowercase_has_no_jvm_form_without_icu_case_mappings(spark):
    """Java's own ``toLowerCase`` is Unicode 13 with a different
    final-sigma context: the chain then keeps the pandas UDF."""
    prev = spark.conf.get(ICU_CONF)
    spark.conf.set(ICU_CONF, "false")
    try:
        df = text_frame(spark, ["a"])
        assert Analyzer.lowercase_only().spark_analyze(df, "text") is None
        assert Analyzer.default("en").spark_analyze(df, "text", unique=True) is not None
        plan = build_postings(df, SearchSchema({"text": IS_INDEXED}, Analyzer.lowercase_only()))
        assert "ArrowEvalPython" in formatted_plan(plan)
    finally:
        spark.conf.set(ICU_CONF, prev)


def test_chains_without_jvm_form(spark):
    df = text_frame(spark, ["a"])
    assert Analyzer.default("en").spark_analyze(df, "text") is None  # stemmer

    class Shout(LowerCaseTransformer):
        def apply(self, term):
            return term.upper()

    class NoDigits:
        def allow(self, term):
            return not term.isdigit()

    assert Analyzer(transformers=[Shout()]).spark_analyze(df, "text") is None
    assert Analyzer(transformers=[LowerCaseTransformer("en", [NoDigits()])]).spark_analyze(df, "text") is None
    assert Analyzer(transformers=[StemmerTransformer("en")]).spark_analyze(df, "text", unique=True) is not None


# the two documents the former lowercase fast path (lower the whole
# string, then split) indexed differently from Analyzer.analyze
FAST_PATH_DOCS = ["ΑΣ'Β", "İstanbul"]


def test_lowercase_lowers_per_token_after_the_split(spark):
    want = [Analyzer.lowercase_only().analyze(t) for t in FAST_PATH_DOCS]
    assert want == [[("ας", 0), ("β", 1)], [("i̇stanbul", 0)]]
    assert jvm_analyze(spark, *CHAINS["lowercase"], FAST_PATH_DOCS) == want


@pytest.mark.parametrize("icu", ["true", "false"], ids=["jvm", "udf"])
def test_fast_path_documents_search_as_the_query_side_analyzes(spark, icu):
    """Index and query agree on both documents, on the JVM path and on
    the UDF path (ICU case mappings off)."""
    from phphinder_spark.engine import SparkSearchEngine

    prev = spark.conf.get(ICU_CONF)
    spark.conf.set(ICU_CONF, icu)
    try:
        schema = SearchSchema({"text": IS_INDEXED | IS_STORED}, Analyzer.lowercase_only())
        eng = SparkSearchEngine(spark, schema)
        eng.add_documents([{"text": t} for t in FAST_PATH_DOCS])
        eng.flush()
        got = {
            (r["term"], r["doc_id"], tuple(r["positions"]))
            for r in eng.index.postings.collect()
        }
        want = {
            (t, i + 1, (p,))
            for i, text in enumerate(FAST_PATH_DOCS)
            for t, p in schema.analyzer.analyze(text)
        }
        assert got == want
        assert [r.doc_id for r in eng.search("ΑΣ")] == [1]
        assert [r.doc_id for r in eng.search("İstanbul")] == [2]
        assert eng.search("stanbul") == []
    finally:
        spark.conf.set(ICU_CONF, prev)


# ------------------------------------------------------------ differential


@settings(max_examples=40, deadline=None)
@given(st.lists(st.text(), min_size=1, max_size=6))
@example(FAST_PATH_DOCS)
@example(["The cat and THE dog", "ΑΣʰ A_Σ ʰΣ", "a\U00010570b x́y", "__ 1½ Ⅻ"])
def test_compiled_chains_equal_analyze(spark, texts):
    for name, (analyzer, unique) in CHAINS.items():
        want = [python_analyze(analyzer, unique, t) for t in texts]
        assert jvm_analyze(spark, analyzer, unique, texts) == want, name


@settings(max_examples=25, deadline=None)
@given(st.lists(st.text(max_size=12), min_size=1, max_size=8))
@example(["a", "aaa", "", "\U00010570\U00010597x", "ab"])
def test_ngrams_col_equals_term_ngrams(spark, terms):
    rows = (
        local_frame(spark, [(i, t) for i, t in enumerate(terms)], "i long, t string")
        .select("i", ngrams_col(F.col("t")).alias("g"))
        .collect()
    )
    got = {r["i"]: sorted(r["g"]) for r in rows}
    assert got == {i: sorted(term_ngrams(t)) for i, t in enumerate(terms)}


# ------------------------------------------------------------ postings identity


def assert_postings_equal_reference(spark, schema, rows):
    cols = ["doc_id"] + list(schema.fields)
    df = local_frame(
        spark, [tuple(r.get(c) for c in cols) for r in rows], schema.to_struct_type()
    )
    got = {
        (r["field"], r["term"], r["doc_id"], r["tf"], tuple(r["positions"]))
        for r in build_postings(df, schema).collect()
    }
    want = {(f, t, d, tf, tuple(ps)) for f, t, d, tf, ps in postings_of_rows(schema, rows)}
    assert got == want


FIXTURE_ROWS = [  # FIXTURES.md F2, the reference's 3-doc integration fixture
    {"_id": 1, "title": "Cat animal", "text": "Meow world! This is a PHP search engine.",
     "description": "this is a description"},
    {"_id": 2, "title": "Dog", "text": "Bark Bark! PHPhinder makes search development fun to the world.",
     "description": "Describe the problems"},
    {"_id": 3, "title": "Snake", "text": "szee szee! This is the minimal PHP search engine for the animal world.",
     "description": "this is a description"},
]


@pytest.mark.parametrize(
    "analyzer",
    [Analyzer.default("en"), Analyzer.lowercase_only(), lowercase_stopwords()],
    ids=["stemmed", "lowercase", "lowercase+stopwords"],
)
def test_fixture_postings_equal_analyze(spark, analyzer):
    rows = [dict(r, doc_id=i + 1) for i, r in enumerate(FIXTURE_ROWS)]
    assert_postings_equal_reference(spark, make_test_schema(analyzer), rows)


@pytest.mark.parametrize(
    "analyzer", [Analyzer.lowercase_only(), lowercase_stopwords()], ids=["lowercase", "lowercase+stopwords"]
)
def test_code_corpus_postings_equal_analyze(spark, analyzer):
    cols = ["repo", "path", "commit", "lang", "content"]
    rows = [
        dict(zip(cols, make_row(i, 5, 120, zipf=True)), doc_id=i + 1) for i in range(120)
    ]
    schema = SearchSchema(
        {
            "repo": IS_STORED | IS_INDEXED,
            "path": IS_STORED | IS_INDEXED | IS_UNIQUE,
            "commit": IS_STORED,
            "lang": IS_STORED | IS_INDEXED,
            "content": IS_STORED | IS_INDEXED | IS_FULLTEXT,
        },
        analyzer=analyzer,
    )
    assert_postings_equal_reference(spark, schema, rows)


def test_typed_and_null_postings_equal_analyze(spark):
    """Non-string values are one whole token, spelled as Spark's cast
    spells them (lower-case booleans, Java's double format); nulls make
    no postings."""
    schema = SearchSchema(
        {
            "key": IS_STORED | IS_INDEXED | IS_UNIQUE,
            "n": IS_STORED | IS_INDEXED,
            "x": IS_STORED | IS_INDEXED,
            "ok": IS_STORED | IS_INDEXED,
            "text": IS_STORED | IS_INDEXED | IS_FULLTEXT,
        },
        types={"key": "long", "n": "long", "x": "double", "ok": "bool"},
    )
    xs = [1e20, 0.1 + 0.2, 1e-5, 2.82879384806159e17, 100.0, 12345678.0, -0.0, 1e23, None]
    rows = [
        {"doc_id": i + 1, "key": i, "n": None if i % 3 == 0 else -i * 7, "x": x,
         "ok": None if i % 4 == 0 else bool(i % 2), "text": None if i % 5 == 0 else f"Running dogs {i}"}
        for i, x in enumerate(xs)
    ]
    assert_postings_equal_reference(spark, schema, rows)


def test_alice_postings_equal_analyze(spark):
    """The reference's stemmed Alice chain: main terms through the UDF,
    ``text#raw`` in the JVM, both equal to the Python analyzer."""
    from test_alice import PG11, load_alice_rows

    from phphinder_spark.schema import line_schema

    if not os.path.exists(PG11):
        pytest.skip("reference pg11.txt not available")
    rows = [
        {"doc_id": i + 1, "chapter": c, "text": t, "line": ln}
        for i, (c, t, ln) in enumerate(load_alice_rows())
    ]
    assert_postings_equal_reference(spark, line_schema(), rows)


# ------------------------------------------------------------ no Python worker


def _daemons() -> list[str]:
    """Command lines of this process's descendants that are PySpark
    worker daemons (from /proc)."""
    children: dict[int, list[tuple[int, str]]] = defaultdict(list)
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append((int(pid), cmd))
    out, todo = [], [os.getpid()]
    while todo:
        for pid, cmd in children.get(todo.pop(), []):
            todo.append(pid)
            if "pyspark.daemon" in cmd or "pyspark/daemon" in cmd:
                out.append(cmd)
    return out


def _no_daemon_run(work: str) -> None:
    """Build, open, flush and search a lowercase-chain index in a fresh
    session; fail if any step started a PySpark worker daemon."""
    from pyspark.sql import SparkSession

    from phphinder_spark.engine import SparkSearchEngine
    from phphinder_spark.index.manifest import build_resumable_index

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    cols = ["repo", "path", "commit", "lang", "content"]
    schema = SearchSchema(
        {
            "repo": IS_STORED | IS_INDEXED,
            "path": IS_STORED | IS_INDEXED | IS_UNIQUE,
            "commit": IS_STORED,
            "lang": IS_STORED | IS_INDEXED,
            "content": IS_STORED | IS_INDEXED | IS_FULLTEXT,
        },
        analyzer=Analyzer.lowercase_only(),
    )
    rows = [make_row(i, 3, 60, zipf=True) for i in range(60)]
    corpus = local_frame(spark, rows, schema.to_struct_type(include_doc_id=False))
    batch = [dict(zip(cols, make_row(i, 4, 60, zipf=True))) for i in range(55, 65)]
    shapes = ["function", "function return", "function OR import", "function NOT data",
              "func*", '"return value"', "functon"]

    def exercise(eng):
        for q in shapes:
            eng.search(q)
        eng.search_topk_bm25("function import", k=5, field="content").collect()
        eng.search_topk_bm25_many(["function", "data value"], k=5, field="content").collect()
        eng.add_documents([dict(d) for d in batch])
        eng.flush()
        for q in shapes:
            eng.search(q)
        assert not _daemons(), _daemons()

    index_dir = os.path.join(work, "index")
    build_resumable_index(spark, corpus, schema, index_dir, n_chunks=1, chunk_span=16)
    assert not _daemons(), _daemons()
    exercise(SparkSearchEngine.from_index_dir(spark, index_dir, schema, serve="segments"))
    eng = SparkSearchEngine(spark, schema)
    eng.index_dataframe(
        local_frame(spark, [(i + 1, *r) for i, r in enumerate(rows)], schema.to_struct_type())
    )
    eng.index.stats()
    exercise(eng)
    spark.stop()
    print("NO_DAEMON_OK")


@pytest.mark.skipif(not os.path.isdir("/proc"), reason="needs /proc to list processes")
def test_lowercase_build_open_flush_search_start_no_python_worker(tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), str(tmp_path)],
        env=env,
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0 and "NO_DAEMON_OK" in proc.stdout, proc.stderr[-4000:]


if __name__ == "__main__":
    _no_daemon_run(sys.argv[1])
